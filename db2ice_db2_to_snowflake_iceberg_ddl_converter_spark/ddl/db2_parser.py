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
in the reference's left join). The scanners blank each string literal with
one regex (the quote rule: a ``'`` toggles the string state unless the
character before it is ``\\``) and then cut the text with ``str.split`` and
paren counts per piece, instead of visiting each delimiter, to find the
statements, a column block's closing paren and its top-level commas. Each
column definition is read with one compiled pattern (name, type, length,
scale); the DEFAULT, CCSID and FIELDPROC searches run only when one of
those words appears. A ``ColumnDef`` resolves its type mapping when it is
built.

``table_findings`` is the one rule for a table that cannot be created as
parsed (no columns, or a repeated column name): the parser warns with it,
the converter marks it with EWI 0021 and the assessment reports it.

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

# The head of one column definition: its name and, after optional spaces, a
# type token with its optional (length[, scale]). Groups: name, type,
# length, scale. The lookahead keeps the name whole, as ``_NAME_RE`` took
# it, instead of backtracking to a shorter name; nothing follows the type,
# so it never backtracks.
_COLUMN_RE = re.compile(r'(["\w]+)(?!["\w])\s*(?:' + _TYPE_RE.pattern + ')',
                        re.IGNORECASE)
# The column options that carry a value; a definition without any of these
# words skips their searches.
_OPTION_RE = re.compile(r"DEFAULT|CCSID|FIELDPROC", re.IGNORECASE)
_COL_CCSID_RE = re.compile(r"CCSID\s+(\w+)", re.IGNORECASE)
_FIELDPROC_RE = re.compile(r"FIELDPROC\s+(\S+)", re.IGNORECASE)
_NAME_RE = re.compile(r'(["\w]+)')
_SPACES_RE = re.compile(r"\s+")

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

# A string literal runs from a ' to the next ' or to the end of the text; a
# ' preceded by \ neither opens nor closes one (parser.py:292-331).
_STRING_RE = re.compile(r"(?<!\\)'(?:[^']|(?<=\\)')*(?:(?<!\\)'|\Z)")
# A DEFAULT column option and its value: one word, in which each string
# literal (the rule above) counts whole, spaces and all. The DEFAULT of
# GENERATED BY DEFAULT matches without a value, and a DEFAULT followed by
# GENERATED (WITH DEFAULT GENERATED ALWAYS) does not match: neither names a
# default value.
_DEFAULT_RE = re.compile(r"BY\s+DEFAULT|DEFAULT\s+(?!GENERATED\b)((?:"
                         + _STRING_RE.pattern + r"|\S)+)", re.IGNORECASE)


def _unquote(ident: Optional[str]) -> str:
    if ident is None:
        return ""
    return ident.strip('"').strip("'").strip("`")


def _idents(csv: str) -> list[str]:
    return [_unquote(x.strip()) for x in csv.split(",")]


def _mask(s: str) -> str:
    """``s`` with each string literal blanked to the same length, so that
    the scanners below find only the delimiters outside strings."""
    if "'" not in s:
        return s
    return _STRING_RE.sub(lambda m: "_" * (m.end() - m.start()), s)


def _split_top_level(s: str, seps: str = ",") -> list[str]:
    """Split on any of ``seps`` at paren-depth 0 outside strings
    (parser.py:292-331, 472-498); the tail after the last cut is kept when
    it is not empty."""
    masked = _mask(s)
    for sep in seps[1:]:
        masked = masked.replace(sep, seps[0])
    pieces = masked.split(seps[0])
    parts: list[str] = []
    start = end = depth = 0
    for piece in pieces[:-1]:
        end += len(piece)
        depth += piece.count("(") - piece.count(")")
        if depth == 0:
            parts.append(s[start:end])
            start = end + 1
        end += 1
    if start < len(s):
        parts.append(s[start:])
    return parts


def _scan_statements(ddl: str) -> list[str]:
    """Split on ';' / '@' terminators, ignoring those inside strings/parens
    (parser.py:292-331)."""
    return [stmt for stmt in map(str.strip, _split_top_level(ddl, ";@"))
            if stmt]


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
    at = _mask(line).find("--")
    return line if at < 0 else line[:at]


def _closing_paren(s: str, start: int) -> int:
    """Index of the ')' matching the '(' at ``start``; -1 if unbalanced
    (parser.py:412-431)."""
    end = start
    depth = 0
    for piece in _mask(s[start:]).split(")")[:-1]:
        end += len(piece)
        depth += piece.count("(") - 1
        if depth == 0:
            return end
        end += 1
    return -1


class DB2DdlParser:
    """Parses a DB2 DDL script into TableDef objects (parser.py:120-205).

    DECFLOAT parses as DECFLOAT and so maps to DOUBLE with EWI 0007, the
    reference's documented rule (mapper.py:279-287, README); see
    ``_TYPE_RE`` for the reference tokenizer bug this departs from.

    Each ``table_findings`` message of a table (no parsed columns, or a
    column name repeated case-insensitively) adds one entry to
    ``warnings``; the table is kept as parsed.
    """

    def __init__(self) -> None:
        self.errors: list[str] = []
        self.warnings: list[str] = []

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
        for part in _split_top_level(_drop_inline_comments(block)):
            part = part.strip()
            if not part:
                continue
            if _CONSTRAINT_RE.search(part.upper()):
                c = self._constraint_from(part)
                if c:
                    table.constraints.append(c)
            else:
                col = self._column_from(part)
                if col:
                    table.columns.append(col)
        self.warnings += table_findings(table)

    def _column_from(self, col_def: str) -> Optional[ColumnDef]:
        m = _COLUMN_RE.match(col_def)
        if m is None:
            name_m = _NAME_RE.match(col_def)
            if not name_m:
                self.warnings.append(
                    f"Could not parse column name: {col_def[:50]}")
            else:
                self.warnings.append("Could not parse data type for column "
                                     f"{_unquote(name_m.group(1))}")
            return None
        name, data_type, length, scale = m.groups()
        data_type = data_type.upper()
        if not data_type.isalpha():  # a multi-word type: one space per gap
            data_type = _SPACES_RE.sub(" ", data_type)
        if length:
            length = int(length)
        if scale:
            scale = int(scale)
        rest = col_def[m.end():]
        upper = rest.upper()
        default = ccsid = fieldproc = None
        if _OPTION_RE.search(rest):
            if "DEFAULT" in upper:
                m = _DEFAULT_RE.search(rest)
                while m and m.group(1) is None:  # GENERATED BY DEFAULT
                    m = _DEFAULT_RE.search(rest, m.end())
                default = m and m.group(1)
            ccsid = _COL_CCSID_RE.search(rest)
            ccsid = ccsid and ccsid.group(1)
            fieldproc = _FIELDPROC_RE.search(rest)
            fieldproc = fieldproc and fieldproc.group(1)
        generated = ("ALWAYS" if "GENERATED ALWAYS" in upper else
                     "BY DEFAULT" if "GENERATED BY DEFAULT" in upper else None)
        # a name holds no ' or `, so stripping '"' unquotes it; the
        # arguments follow ColumnDef's field order, length twice as the
        # precision too
        return ColumnDef(name.strip('"'), data_type, length, length, scale,
                         "NOT NULL" not in upper, default, generated, ccsid,
                         "FOR BIT DATA" in upper, fieldproc, col_def)

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


def table_findings(table: TableDef) -> list[str]:
    """One message per reason the table cannot be created as parsed: it has
    no parsed columns, or a column name repeats (compared
    case-insensitively, as ``migrate_table`` resolves source columns). The
    parser warns with these messages, the converter marks each with EWI
    0021 and the assessment reports each as a warning."""
    if not table.columns:
        return [f"Table {table.full_name} has no parsed columns"]
    if len({col.name.lower() for col in table.columns}) == len(table.columns):
        return []
    seen: set[str] = set()
    out = []
    for col in table.columns:
        key = col.name.lower()
        if key in seen:
            out.append(f"Duplicate column {col.name} in table {table.full_name}")
        seen.add(key)
    return out


def _partition_from(m: re.Match) -> PartitionSpec:
    return PartitionSpec(kind=m.group(1).upper(), columns=_idents(m.group(2)),
                         raw_definition=m.group(0))
