"""DB2 DDL parser — CREATE TABLE / DECLARE GTT / ALTER TABLE / DISTRIBUTE BY HASH.

Re-expresses the reference parser's semantics (reference: db2ice/parser.py:120-684)
with the same two-pass structure: pass 1 materializes tables from CREATE/DECLARE
statements; pass 2 links ALTER TABLE (partition / ADD CONSTRAINT PRIMARY KEY)
and DISTRIBUTE BY HASH statements back onto them. The ALTER link is an
equi-match on upper-cased table name with a null-tolerant schema predicate
(parser.py:207-261); DISTRIBUTE BY HASH binds to the *most recently created*
table, an order-dependent quirk preserved on purpose (parser.py:263-274).

The parse is linear in script size. Pass 1 classifies each statement once:
CREATE/DECLARE statements become tables and ALTER/DISTRIBUTE bodies are kept,
in script order, for pass 2, which finds ALTER targets through an index of
upper-cased table names built once per parse (first declared match wins, as
in the reference's left join). The scanners jump between delimiters with
``re.finditer`` instead of walking characters; the quote rule is unchanged:
a ``'`` toggles the string state unless the character before it is ``\\``.

Parsing happens on the driver: DDL inputs are KB-scale text, so a distributed
parse would be the wrong altitude. For bulk catalogs, ``parse_many`` accepts an
iterator of scripts and stays embarrassingly parallel per script.
"""

from __future__ import annotations

import re
from typing import Optional

from ..model import ColumnDef, ConstraintDef, PartitionSpec, TableDef

# CREATE [VOLATILE] [GLOBAL TEMPORARY] TABLE [schema.]name (
_CREATE_RE = re.compile(
    r'CREATE\s+(?:(VOLATILE)\s+)?(?:(GLOBAL\s+TEMPORARY)\s+)?TABLE\s+'
    r'(?:(["\w]+)\.)?(["\w]+)\s*\(',
    re.IGNORECASE,
)

_DECLARE_RE = re.compile(
    r'DECLARE\s+GLOBAL\s+TEMPORARY\s+TABLE\s+(?:(["\w]+)\.)?(["\w]+)\s*\(',
    re.IGNORECASE,
)

# Statement kinds, by leading keywords; the group name is the kind.
_KIND_RE = re.compile(
    r'\s*(?:(?P<create>CREATE\s+(?:VOLATILE\s+)?(?:GLOBAL\s+TEMPORARY\s+)?TABLE)'
    r'|(?P<declare>DECLARE\s+GLOBAL\s+TEMPORARY\s+TABLE)'
    r'|(?P<alter>ALTER\s+TABLE)'
    r'|(?P<distribute>DISTRIBUTE\s+BY\s+HASH))',
    re.IGNORECASE,
)

# Every DB2 type token the reference recognizes (parser.py:138-146), longest
# alternatives first so e.g. "CHARACTER VARYING" wins over "CHARACTER".
# Deliberate fix vs the reference: DECFLOAT is listed *before* DECIMAL|DEC.
# The reference's alternation order makes "DECFLOAT" parse as "DEC"
# (parser.py:139), which silently bypasses its own DECFLOAT→DOUBLE rule
# (mapper.py:279-287) and its README's documented mapping — we implement the
# documented semantics.
_TYPE_RE = re.compile(
    r'(SMALLINT|INTEGER|INT|BIGINT|DECFLOAT|DECIMAL|DEC|NUMERIC|REAL|FLOAT|DOUBLE|'
    r'CHARACTER\s+VARYING|CHAR\s+VARYING|VARCHAR|LONG\s+VARCHAR|CHARACTER|CHAR|CLOB|'
    r'GRAPHIC|VARGRAPHIC|LONG\s+VARGRAPHIC|DBCLOB|'
    r'BINARY\s+VARYING|VARBINARY|BINARY|BLOB|'
    r'DATE|TIMESTAMP|TIME|XML|ROWID|BOOLEAN)'
    r'(?:\s*\(\s*(\d+)(?:\s*,\s*(\d+))?\s*\))?',
    re.IGNORECASE,
)

# A part is a constraint when one of these keywords starts it or follows a
# space (matched against the upper-cased part).
_CONSTRAINT_RE = re.compile(r'(?:^| )(?:PRIMARY KEY|FOREIGN KEY|UNIQUE|CHECK|CONSTRAINT)')

_NAME_RE = re.compile(r'(["\w]+)')
_SPACES_RE = re.compile(r"\s+")
_DEFAULT_RE = re.compile(r"DEFAULT\s+(\S+|'[^']*')", re.IGNORECASE)
_COL_CCSID_RE = re.compile(r"CCSID\s+(\w+)", re.IGNORECASE)
_FIELDPROC_RE = re.compile(r"FIELDPROC\s+(\S+)", re.IGNORECASE)

_CONSTRAINT_NAME_RE = re.compile(r'CONSTRAINT\s+(["\w]+)', re.IGNORECASE)
_PK_RE = re.compile(r'PRIMARY\s+KEY\s*\(([^)]+)\)', re.IGNORECASE)
_FK_RE = re.compile(
    r'FOREIGN\s+KEY\s*\(([^)]+)\)\s*REFERENCES\s+(["\w.]+)\s*\(([^)]+)\)',
    re.IGNORECASE)
_UNIQUE_RE = re.compile(r'UNIQUE\s*\(([^)]+)\)', re.IGNORECASE)
_CHECK_RE = re.compile(r'CHECK\s*\((.+)\)', re.IGNORECASE | re.DOTALL)

_TABLESPACE_RE = re.compile(r'IN\s+(["\w]+)', re.IGNORECASE)
_EDITPROC_RE = re.compile(r'EDITPROC\s+(["\w.]+)', re.IGNORECASE)
_VALIDPROC_RE = re.compile(r'VALIDPROC\s+(["\w.]+)', re.IGNORECASE)
_AUDIT_RE = re.compile(r'AUDIT\s+(NONE|CHANGES|ALL)', re.IGNORECASE)
_DATA_CAPTURE_RE = re.compile(r'DATA\s+CAPTURE\s+(NONE|CHANGES)', re.IGNORECASE)
_TABLE_CCSID_RE = re.compile(r'CCSID\s+(ASCII|UNICODE|EBCDIC)', re.IGNORECASE)
_PARTITION_RE = re.compile(r'PARTITION\s+BY\s+(RANGE|HASH)\s*\(([^)]+)\)',
                           re.IGNORECASE)

_ALTER_HEAD_RE = re.compile(r'ALTER\s+TABLE\s+(?:(["\w]+)\.)?(["\w]+)',
                            re.IGNORECASE)
_ALTER_PK_RE = re.compile(
    r'ADD\s+CONSTRAINT\s+(["\w]+)\s+PRIMARY\s+KEY\s*\(([^)]+)\)', re.IGNORECASE)
_DISTRIBUTE_RE = re.compile(r'DISTRIBUTE\s+BY\s+HASH\s*\(([^)]+)\)', re.IGNORECASE)

# Delimiter sets of the scanners below.
_STATEMENT_DELIMS = re.compile(r"[;@()']")
_PAREN_DELIMS = re.compile(r"[()']")
_PART_DELIMS = re.compile(r"[(),']")
_COMMENT_DELIMS = re.compile(r"'|--")


def _unquote(ident: Optional[str]) -> str:
    if ident is None:
        return ""
    return ident.strip('"').strip("'").strip("`")


def _idents(csv: str) -> list[str]:
    return [_unquote(x.strip()) for x in csv.split(",")]


def _code_delims(s: str, delims: re.Pattern, pos: int = 0):
    """Yield ``(delimiter, index)`` for each match of ``delims`` (which must
    include ``'``) outside string literals. A ``'`` toggles the string state
    unless the character before it is ``\\`` (parser.py:292-331)."""
    in_str = False
    for m in delims.finditer(s, pos):
        ch, i = m.group(), m.start()
        if ch == "'":
            if i == 0 or s[i - 1] != "\\":
                in_str = not in_str
        elif not in_str:
            yield ch, i


def _scan_statements(ddl: str) -> list[str]:
    """Split on ';' / '@' terminators, ignoring those inside strings/parens
    (parser.py:292-331)."""
    out: list[str] = []
    start = 0
    depth = 0
    for ch, i in _code_delims(ddl, _STATEMENT_DELIMS):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            stmt = ddl[start:i].strip()
            if stmt:
                out.append(stmt)
            start = i + 1
    tail = ddl[start:].strip()
    if tail:
        out.append(tail)
    return out


def _drop_leading_comments(stmt: str) -> str:
    """Skip '--'-only lines before the first code line (parser.py:276-290)."""
    if not stmt[:1].isspace() and not stmt.startswith("--"):
        return stmt  # the first line is code: nothing to skip
    lines = stmt.split("\n")
    for n, line in enumerate(lines):
        s = line.strip()
        if s and not s.startswith("--"):
            return "\n".join(lines[n:])
    return ""


def _drop_inline_comments(s: str) -> str:
    """Truncate each line at a '--' that is outside string literals
    (parser.py:433-448)."""
    if "--" not in s:
        return s
    return "\n".join(_cut_comment(line) if "--" in line else line
                     for line in s.split("\n"))


def _cut_comment(line: str) -> str:
    for _, i in _code_delims(line, _COMMENT_DELIMS):
        return line[:i]
    return line


def _closing_paren(s: str, start: int) -> int:
    """Index of the ')' matching the '(' at ``start``; -1 if unbalanced
    (parser.py:412-431)."""
    depth = 0
    for ch, i in _code_delims(s, _PAREN_DELIMS, start):
        if ch == "(":
            depth += 1
        else:
            depth -= 1
            if depth == 0:
                return i
    return -1


def _split_top_level(s: str) -> list[str]:
    """Split on commas at paren-depth 0 outside strings (parser.py:472-498)."""
    parts: list[str] = []
    start = 0
    depth = 0
    for ch, i in _code_delims(s, _PART_DELIMS):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            parts.append(s[start:i])
            start = i + 1
    if start < len(s):
        parts.append(s[start:])
    return parts


class DB2DdlParser:
    """Parses a DB2 DDL script into TableDef objects (parser.py:120-205).

    ``decfloat_as_dec=True`` reproduces the reference's observed behavior of
    tokenizing DECFLOAT as DEC (its alternation-order bug, parser.py:139);
    the default implements the reference's *documented* semantics where
    DECFLOAT reaches the DECFLOAT→DOUBLE rule (mapper.py:279-287, README).
    """

    def __init__(self, decfloat_as_dec: bool = False) -> None:
        self.errors: list[str] = []
        self.warnings: list[str] = []
        self.decfloat_as_dec = decfloat_as_dec

    def parse(self, ddl: str) -> list[TableDef]:
        self.errors = []
        self.warnings = []
        tables: list[TableDef] = []
        links: list[tuple[str, str]] = []

        # Pass 1 — CREATE TABLE and DECLARE GTT produce tables, in script
        # order; ALTER and DISTRIBUTE bodies wait for pass 2.
        for stmt in _scan_statements(ddl):
            body = _drop_leading_comments(stmt)
            kind = _KIND_RE.match(body)
            if not kind:
                continue
            if kind.lastgroup == "create":
                try:
                    t = self._table_from_create(body)
                    if t:
                        tables.append(t)
                except Exception as exc:  # pragma: no cover - defensive
                    self.errors.append(f"Failed to parse statement: {exc}")
            elif kind.lastgroup == "declare":
                try:
                    t = self._table_from_declare(body)
                    if t:
                        tables.append(t)
                except Exception as exc:  # pragma: no cover - defensive
                    self.errors.append(f"Failed to parse DECLARE statement: {exc}")
            else:
                links.append((kind.lastgroup, body))

        # Pass 2 — link ALTER / DISTRIBUTE statements to pass-1 tables.
        by_name: dict[str, list[TableDef]] = {}
        for t in tables:
            by_name.setdefault(t.name.upper(), []).append(t)
        for kind, body in links:
            if kind == "alter":
                self._link_alter(body, by_name)
            else:
                self._link_distribute(body, tables)

        return tables

    def parse_many(self, scripts) -> list[TableDef]:
        """Parse an iterable of independent DDL scripts (bulk catalogs)."""
        out: list[TableDef] = []
        for script in scripts:
            out.extend(self.parse(script))
        return out

    # -- statement handlers ---------------------------------------------

    def _table_from_create(self, stmt: str) -> Optional[TableDef]:
        m = _CREATE_RE.search(stmt)
        if not m:
            self.errors.append("Could not parse table name")
            return None
        table = TableDef(raw_ddl=stmt)
        table.volatile = m.group(1) is not None
        table.global_temporary = m.group(2) is not None
        table.schema = _unquote(m.group(3)) if m.group(3) else None
        table.name = _unquote(m.group(4))
        return self._fill_body(stmt, m.end() - 1, table)

    def _table_from_declare(self, stmt: str) -> Optional[TableDef]:
        m = _DECLARE_RE.search(stmt)
        if not m:
            self.errors.append("Could not parse DECLARE GLOBAL TEMPORARY TABLE")
            return None
        table = TableDef(raw_ddl=stmt, global_temporary=True)
        table.schema = _unquote(m.group(1)) if m.group(1) else None
        table.name = _unquote(m.group(2))
        return self._fill_body(stmt, m.end() - 1, table)

    def _fill_body(self, stmt: str, search_from: int,
                   table: TableDef) -> Optional[TableDef]:
        open_at = stmt.find("(", search_from)
        if open_at == -1:
            self.errors.append("Could not find column definitions")
            return None
        close_at = _closing_paren(stmt, open_at)
        if close_at == -1:
            self.errors.append("Could not find end of column definitions")
            return None
        self._fill_columns(stmt[open_at + 1: close_at], table)
        self._fill_options(stmt[close_at + 1:], table)
        return table

    def _fill_columns(self, block: str, table: TableDef) -> None:
        block = _drop_inline_comments(block)
        for part in _split_top_level(block):
            part = part.strip()
            if not part:
                continue
            if self._looks_like_constraint(part):
                c = self._constraint_from(part)
                if c:
                    table.constraints.append(c)
            else:
                col = self._column_from(part)
                if col:
                    table.columns.append(col)

    @staticmethod
    def _looks_like_constraint(part: str) -> bool:
        return _CONSTRAINT_RE.search(part.upper().strip()) is not None

    def _column_from(self, col_def: str) -> Optional[ColumnDef]:
        col_def = col_def.strip()
        if not col_def:
            return None
        name_m = _NAME_RE.match(col_def)
        if not name_m:
            self.warnings.append(f"Could not parse column name: {col_def[:50]}")
            return None
        name = _unquote(name_m.group(1))
        rest = col_def[name_m.end():].strip()

        type_m = _TYPE_RE.match(rest)
        if not type_m:
            self.warnings.append(f"Could not parse data type for column {name}")
            return None
        data_type = type_m.group(1).upper()
        if not data_type.isalpha():  # a multi-word type: one space per gap
            data_type = _SPACES_RE.sub(" ", data_type)
        col = ColumnDef(name=name, data_type=data_type, raw_definition=col_def)
        if data_type == "DECFLOAT" and self.decfloat_as_dec:
            # reproduce the reference's parse: "DECFLOAT(16)" → DEC, no params
            col.data_type = "DEC"
        else:
            if type_m.group(2):
                col.length = int(type_m.group(2))
                col.precision = col.length
            if type_m.group(3):
                col.scale = int(type_m.group(3))
        rest = rest[type_m.end():].strip()
        upper = rest.upper()

        col.nullable = "NOT NULL" not in upper
        if "DEFAULT" in upper:
            dflt = _DEFAULT_RE.search(rest)
            if dflt:
                col.default = dflt.group(1)
        if "GENERATED ALWAYS" in upper:
            col.generated = "ALWAYS"
        elif "GENERATED BY DEFAULT" in upper:
            col.generated = "BY DEFAULT"
        col.for_bit_data = "FOR BIT DATA" in upper
        ccsid = _COL_CCSID_RE.search(rest)
        if ccsid:
            col.ccsid = ccsid.group(1)
        fproc = _FIELDPROC_RE.search(rest)
        if fproc:
            col.fieldproc = fproc.group(1)
        return col

    def _constraint_from(self, text: str) -> Optional[ConstraintDef]:
        upper = text.upper()
        c = ConstraintDef(kind="")
        named = _CONSTRAINT_NAME_RE.match(text)
        if named:
            c.name = _unquote(named.group(1))

        if "PRIMARY KEY" in upper:
            c.kind = "PRIMARY KEY"
            m = _PK_RE.search(text)
            if m:
                c.columns = _idents(m.group(1))
        elif "FOREIGN KEY" in upper:
            c.kind = "FOREIGN KEY"
            m = _FK_RE.search(text)
            if m:
                c.columns = _idents(m.group(1))
                c.reference_table = m.group(2)
                c.reference_columns = _idents(m.group(3))
        elif "UNIQUE" in upper:
            c.kind = "UNIQUE"
            m = _UNIQUE_RE.search(text)
            if m:
                c.columns = _idents(m.group(1))
        elif "CHECK" in upper:
            c.kind = "CHECK"
            m = _CHECK_RE.search(text)
            if m:
                c.check_condition = m.group(1).strip()

        return c if c.kind else None

    def _fill_options(self, options: str, table: TableDef) -> None:
        upper = options.upper()
        ts = _TABLESPACE_RE.search(options)
        if ts:
            table.tablespace = _unquote(ts.group(1))
        if "EDITPROC" in upper:
            m = _EDITPROC_RE.search(options)
            if m:
                table.editproc = m.group(1)
        if "VALIDPROC" in upper:
            m = _VALIDPROC_RE.search(options)
            if m:
                table.validproc = m.group(1)
        if "AUDIT" in upper:
            m = _AUDIT_RE.search(options)
            if m:
                table.audit = m.group(1).upper()
        if "DATA CAPTURE" in upper:
            m = _DATA_CAPTURE_RE.search(options)
            if m:
                table.data_capture = m.group(1).upper()
        m = _TABLE_CCSID_RE.search(options)
        if m:
            table.ccsid = m.group(1).upper()
        if "PARTITION BY" in upper:
            pm = _PARTITION_RE.search(options)
            if pm:
                table.partition = _partition_from(pm)

    # -- pass-2 linkers ---------------------------------------------------

    def _link_alter(self, stmt: str, by_name: dict[str, list[TableDef]]) -> None:
        """Left-join semantics: unmatched ALTERs log a warning
        (parser.py:207-261). ``by_name`` maps each upper-cased table name to
        its tables in declaration order; the first match wins."""
        head = _ALTER_HEAD_RE.match(stmt)
        if not head:
            return
        schema = _unquote(head.group(1)) if head.group(1) else None
        name = _unquote(head.group(2))

        target = next((t for t in by_name.get(name.upper(), ())
                       if schema is None
                       or (t.schema and t.schema.upper() == schema.upper())),
                      None)
        if target is None:
            ref = f"{schema}.{name}" if schema else name
            self.warnings.append(f"ALTER TABLE references unknown table: {ref}")
            return

        pm = _PARTITION_RE.search(stmt)
        if pm:
            target.partition = _partition_from(pm)

        pk = _ALTER_PK_RE.search(stmt)
        if pk and not any(c.kind == "PRIMARY KEY" for c in target.constraints):
            target.constraints.append(ConstraintDef(
                kind="PRIMARY KEY",
                name=_unquote(pk.group(1)),
                columns=_idents(pk.group(2)),
            ))

    @staticmethod
    def _link_distribute(stmt: str, tables: list[TableDef]) -> None:
        """DB2 convention: applies to the preceding CREATE TABLE
        (parser.py:263-274)."""
        m = _DISTRIBUTE_RE.search(stmt)
        if m and tables:
            tables[-1].distribute_by_hash = _unquote(m.group(1).strip())


def _partition_from(m: re.Match) -> PartitionSpec:
    return PartitionSpec(kind=m.group(1).upper(), columns=_idents(m.group(2)),
                         raw_definition=m.group(0))
