"""Parser tests: DB2 two-pass parsing and Snowflake scan parsing over the
full-feature fixture corpora."""

from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.ddl import (
    DB2DdlParser,
    SnowflakeDdlParser,
)

from fixtures import DB2_CORPUS, SNOWFLAKE_CORPUS


def parse_db2():
    parser = DB2DdlParser()
    return parser, {t.full_name: t for t in parser.parse(DB2_CORPUS)}


def test_db2_table_inventory():
    _, tables = parse_db2()
    assert len(tables) == 13
    assert "SHOP.CLIENTS" in tables and "FEED.CLICKSTREAM" in tables


def test_db2_columns_and_modifiers():
    _, tables = parse_db2()
    clients = tables["SHOP.CLIENTS"]
    by_name = {c.name: c for c in clients.columns}
    assert list(by_name) == ["CLIENT_ID", "FULL_NAME", "CONTACT_EMAIL",
                             "REGION_CODE", "SIGNUP_DATE", "LAST_SEEN", "TIER"]
    assert not by_name["CLIENT_ID"].nullable
    assert by_name["CONTACT_EMAIL"].nullable
    assert by_name["REGION_CODE"].data_type == "CHAR"
    assert by_name["REGION_CODE"].length == 4
    assert by_name["TIER"].default == "2"
    assert clients.tablespace == "CLIENTSPACE"


def test_db2_decimal_precision_scale():
    _, tables = parse_db2()
    items = {c.name: c for c in tables["STOCK.ITEMS"].columns}
    assert items["LIST_PRICE"].precision == 10
    assert items["LIST_PRICE"].scale == 2
    assert items["WIDE_NUM"].data_type == "NUMERIC"
    assert items["WIDE_NUM"].precision == 42
    assert items["RATE"].data_type == "FLOAT" and items["RATE"].precision == 30


def test_db2_constraints():
    _, tables = parse_db2()
    items = tables["STOCK.ITEMS"]
    kinds = sorted(c.kind for c in items.constraints)
    assert kinds == ["CHECK", "PRIMARY KEY", "UNIQUE"]
    fk = next(c for c in tables["SHOP.PURCHASES"].constraints
              if c.kind == "FOREIGN KEY")
    assert fk.name == "FK_PURCHASE_CLIENT"
    assert fk.columns == ["CLIENT_ID"]
    assert fk.reference_table == "SHOP.CLIENTS"
    assert fk.reference_columns == ["CLIENT_ID"]
    check = next(c for c in items.constraints if c.kind == "CHECK")
    assert "LIST_PRICE >= 0" in check.check_condition


def test_db2_procs_and_options():
    _, tables = parse_db2()
    pii = tables["VAULT.PII_STORE"]
    assert pii.editproc == "VAULT_EDIT"
    assert pii.validproc == "VAULT_CHECK"
    assert {c.name: c.fieldproc for c in pii.columns}["NATIONAL_ID"] == "SCRAMBLE_ID"
    roster = tables["STAFF.ROSTER"]
    assert roster.audit == "CHANGES"
    assert roster.data_capture == "CHANGES"
    assert roster.ccsid == "UNICODE"


def test_db2_generated_and_bit_data():
    _, tables = parse_db2()
    moves = {c.name: c for c in tables["LEDGER.MOVEMENTS"].columns}
    assert moves["MOVE_ID"].generated == "ALWAYS"
    roster = {c.name: c for c in tables["STAFF.ROSTER"].columns}
    assert roster["STAFF_ID"].generated == "BY DEFAULT"
    captures = {c.name: c for c in tables["ARCHIVE.CAPTURES"].columns}
    assert captures["LEGACY_KEY"].for_bit_data
    assert captures["ROW_REF"].data_type == "ROWID"
    assert captures["TITLE_DBCS"].data_type == "GRAPHIC"


def test_db2_inline_partition():
    _, tables = parse_db2()
    readings = tables["METRICS.READINGS"]
    assert readings.partition.kind == "RANGE"
    assert readings.partition.columns == ["READ_DATE"]
    pk = next(c for c in readings.constraints if c.kind == "PRIMARY KEY")
    assert pk.columns == ["READING_ID", "READ_DATE"]


def test_db2_temp_variants():
    _, tables = parse_db2()
    assert tables["SCRATCH.BASKET"].volatile
    assert tables["SCRATCH.STAGING_CALC"].global_temporary
    assert tables["SCRATCH.WORKSET"].global_temporary  # DECLARE form


def test_db2_alter_and_distribute_linking():
    _, tables = parse_db2()
    clicks = tables["FEED.CLICKSTREAM"]
    pk = next(c for c in clicks.constraints if c.kind == "PRIMARY KEY")
    assert pk.name == "PK_CLICK"
    assert pk.columns == ["CLICK_ID", "CLICK_DATE"]
    assert clicks.partition.kind == "RANGE"
    assert clicks.partition.columns == ["CLICK_DATE"]
    # DISTRIBUTE BY HASH binds to the most recent CREATE TABLE
    assert clicks.distribute_by_hash == "VISITOR_ID"


def test_db2_alter_unknown_table_warns():
    parser = DB2DdlParser()
    parser.parse("CREATE TABLE A.B (X INTEGER);\n"
                 "ALTER TABLE A.MISSING ADD CONSTRAINT P PRIMARY KEY (X);")
    assert any("unknown table" in w for w in parser.warnings)


def test_db2_alter_pk_does_not_duplicate():
    parser = DB2DdlParser()
    tables = parser.parse(
        "CREATE TABLE A.B (X INTEGER NOT NULL, PRIMARY KEY (X));\n"
        "ALTER TABLE A.B ADD CONSTRAINT P2 PRIMARY KEY (X);")
    assert sum(1 for c in tables[0].constraints if c.kind == "PRIMARY KEY") == 1


def test_db2_at_terminator_and_comments():
    parser = DB2DdlParser()
    ddl = ("-- leading comment\n"
           "CREATE TABLE S.T1 (A INTEGER -- trailing\n, B VARCHAR(5)) @\n"
           "CREATE TABLE S.T2 (C DATE)@")
    tables = parser.parse(ddl)
    assert [t.name for t in tables] == ["T1", "T2"]
    assert [c.name for c in tables[0].columns] == ["A", "B"]


def test_db2_statement_split_respects_strings():
    parser = DB2DdlParser()
    tables = parser.parse(
        "CREATE TABLE S.T (A VARCHAR(10) DEFAULT 'x;y', B INTEGER);")
    assert len(tables) == 1
    assert tables[0].columns[0].default == "'x;y'"


# ---- DB2 scanner and linking contract ---------------------------------------

def test_db2_terminators_inside_strings_and_parens():
    parser = DB2DdlParser()
    tables = parser.parse(
        "CREATE TABLE S.T1 (A VARCHAR(10) DEFAULT 'x@y;z', B INTEGER) @\n"
        "CREATE TABLE S.T2 (C INTEGER, CONSTRAINT CK CHECK (C IN (1;2@3)));\n"
        "CREATE TABLE S.T3 (D DATE)")
    assert [t.name for t in tables] == ["T1", "T2", "T3"]
    assert [c.name for c in tables[0].columns] == ["A", "B"]
    assert tables[0].columns[0].default == "'x@y;z'"
    check = next(c for c in tables[1].constraints if c.kind == "CHECK")
    assert check.check_condition == "C IN (1;2@3)"
    assert parser.errors == [] and parser.warnings == []


def test_db2_escaped_quote_does_not_close_string():
    parser = DB2DdlParser()
    tables = parser.parse(
        "CREATE TABLE S.T (A VARCHAR(10) DEFAULT 'it\\'s;(x', B INTEGER);\n"
        "CREATE TABLE S.U (C DATE);")
    assert [t.name for t in tables] == ["T", "U"]
    assert [c.name for c in tables[0].columns] == ["A", "B"]
    assert tables[0].columns[0].default == "'it\\'s;(x'"


def test_db2_inline_comment_inside_and_after_string():
    parser = DB2DdlParser()
    tables = parser.parse(
        "CREATE TABLE S.T (\n"
        "  A VARCHAR(10) DEFAULT '--x', -- note, with a comma\n"
        "  B CHAR(2) DEFAULT 'y' -- trailing note\n"
        ")")
    cols = tables[0].columns
    assert [c.name for c in cols] == ["A", "B"]
    assert cols[0].default == "'--x'"
    assert cols[1].default == "'y'"
    assert cols[1].raw_definition == "B CHAR(2) DEFAULT 'y'"


def _one_column(definition: str):
    parser = DB2DdlParser()
    tables = parser.parse(f"CREATE TABLE S.T (\n  {definition},\n  Z INT\n)")
    assert parser.errors == [] and parser.warnings == []
    assert [c.name for c in tables[0].columns][1:] == ["Z"]
    return tables[0].columns[0]


def test_db2_lower_case_multi_word_type_with_irregular_spaces():
    col = _one_column("name character   varying ( 10 ) not null")
    assert (col.name, col.data_type, col.length, col.precision, col.scale,
            col.nullable) == ("name", "CHARACTER VARYING", 10, 10, None, False)
    assert col.mapping.source_type == "VARCHAR(10)"
    col = _one_column("b char\tvarying\n(4)")
    assert (col.data_type, col.length) == ("CHAR VARYING", 4)


def test_db2_quoted_default_with_comma_next_to_not_null():
    for definition, default in (
            ("A VARCHAR(5) DEFAULT 'a,b' NOT NULL", "'a,b'"),
            ("A VARCHAR(5) NOT NULL DEFAULT 'a,b'", "'a,b'"),
            ("A VARCHAR(5) DEFAULT 'a b' NOT NULL", "'a b'")):
        col = _one_column(definition)
        assert (col.default, col.nullable) == (default, False)
        assert col.raw_definition == definition


def test_db2_for_bit_data_ccsid_and_fieldproc_on_one_column():
    col = _one_column("K CHAR(16) FOR BIT DATA CCSID 1208 FIELDPROC ENC.SCRAMBLE")
    assert (col.for_bit_data, col.ccsid, col.fieldproc) == (
        True, "1208", "ENC.SCRAMBLE")
    assert col.mapping.source_type == "CHAR(16) FOR BIT DATA"


def test_db2_generated_by_default_after_a_default():
    col = _one_column("N INTEGER DEFAULT 0 GENERATED BY DEFAULT AS IDENTITY")
    assert (col.default, col.generated, col.nullable) == ("0", "BY DEFAULT",
                                                          True)
    col = _one_column("N INTEGER NOT NULL WITH DEFAULT GENERATED ALWAYS")
    assert (col.default, col.generated, col.nullable) == (None, "ALWAYS",
                                                          False)
    col = _one_column("ID INTEGER NOT NULL GENERATED BY DEFAULT AS IDENTITY")
    assert col.default is None
    assert (col.generated, col.nullable) == ("BY DEFAULT", False)


def test_db2_column_name_is_never_cut_to_find_a_type():
    parser = DB2DdlParser()
    (table,) = parser.parse("CREATE TABLE T (A INT, MYINT, B\"INT\" INT)")
    assert [(c.name, c.data_type) for c in table.columns] == [
        ("A", "INT"), ('B"INT', "INT")]
    assert parser.warnings == ["Could not parse data type for column MYINT"]


def test_db2_patterns_compile_on_python_3_10():
    # possessive quantifiers and atomic groups need Python 3.11's re
    import re

    from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.ddl import (
        db2_parser,
    )
    only_311 = re.compile(r"\(\?>|(?<!\\)[*+?}]\+")
    patterns = [v.pattern for v in vars(db2_parser).values()
                if isinstance(v, re.Pattern)]
    assert db2_parser._COLUMN_RE.pattern in patterns
    assert [p for p in patterns if only_311.search(p)] == []


def test_db2_table_without_columns_warns():
    for ddl, column_warnings in (
            ("CREATE TABLE S.T ()", []),
            ("CREATE TABLE S.T (A)", ["Could not parse data type for column A"])):
        parser = DB2DdlParser()
        tables = parser.parse(ddl)
        assert [(t.full_name, t.columns) for t in tables] == [("S.T", [])]
        assert parser.warnings == column_warnings + [
            "Table S.T has no parsed columns"]


def test_db2_repeated_column_warns_case_insensitively():
    parser = DB2DdlParser()
    tables = parser.parse("CREATE TABLE S.T (A INT, B INT, A INT);\n"
                          "CREATE TABLE S.U (C INT, c INT)")
    assert [[c.name for c in t.columns] for t in tables] == [
        ["A", "B", "A"], ["C", "c"]]
    assert parser.warnings == ["Duplicate column A in table S.T",
                               "Duplicate column c in table S.U"]


def test_db2_malformed_table_warnings_add_ewi_markers():
    from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.assess import (
        Assessor,
    )
    from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.convert import (
        IcebergDdlGenerator,
    )

    marker = "!!!RESOLVE EWI!!! /*** SSC-EWI-DB2ICE-0021 - {} ***/!!!"
    for ddl, findings in (
            ("CREATE TABLE S.T ()", ["Table S.T has no parsed columns"]),
            ("CREATE TABLE S.T (A INT, a INT, B INT, A INT)",
             ["Duplicate column a in table S.T",
              "Duplicate column A in table S.T"])):
        result = IcebergDdlGenerator().convert(ddl)
        assert result.warnings == findings
        assert result.ewi_count == len(findings)
        lines = result.iceberg_ddl.split("\n")
        create = lines.index("CREATE OR REPLACE ICEBERG TABLE S.T (")
        assert lines[1:create] == [marker.format(f) for f in findings]
        # reported as warnings with no penalty, so the score is unchanged
        report = Assessor().assess(ddl)
        assert [(i.code, i.message) for i in report.warnings] == [
            ("SSC-EWI-DB2ICE-0021", f) for f in findings]
        assert report.table_assessments[0].readiness_score == 100
        assert report.table_assessments[0].can_auto_convert


def test_db2_clean_table_has_no_ewi_0021():
    from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.convert import (
        IcebergDdlGenerator,
    )

    result = IcebergDdlGenerator().convert(
        "DECLARE GLOBAL TEMPORARY TABLE S.T (A INT, B INT)")
    assert "0021" not in result.iceberg_ddl
    assert result.ewi_count == 1 and result.warnings == []


def test_db2_unbalanced_paren_is_an_error():
    parser = DB2DdlParser()
    tables = parser.parse("CREATE TABLE S.T (A INTEGER, B DECIMAL(10,2);")
    assert tables == []
    assert parser.errors == ["Could not find end of column definitions"]


def test_db2_schemaless_alter_binds_first_declared():
    parser = DB2DdlParser()
    tables = parser.parse(
        "CREATE TABLE B.T (X INTEGER);\n"
        "CREATE TABLE A.T (X INTEGER);\n"
        "ALTER TABLE t ADD CONSTRAINT PK_T PRIMARY KEY (X);\n"
        "ALTER TABLE a.T PARTITION BY RANGE (X);\n"
        "ALTER TABLE C.T ADD CONSTRAINT PK_C PRIMARY KEY (X);")
    b, a = tables
    assert [(c.kind, c.name) for c in b.constraints] == [("PRIMARY KEY", "PK_T")]
    assert b.partition is None
    assert a.constraints == []
    assert a.partition.kind == "RANGE" and a.partition.columns == ["X"]
    assert parser.warnings == ["ALTER TABLE references unknown table: C.T"]


def test_db2_second_alter_pk_keeps_first():
    parser = DB2DdlParser()
    tables = parser.parse(
        "CREATE TABLE A.B (X INTEGER NOT NULL, Y INTEGER NOT NULL);\n"
        "ALTER TABLE A.B ADD CONSTRAINT P1 PRIMARY KEY (X);\n"
        "ALTER TABLE A.B ADD CONSTRAINT P2 PRIMARY KEY (Y);")
    pks = [c for c in tables[0].constraints if c.kind == "PRIMARY KEY"]
    assert [(c.name, c.columns) for c in pks] == [("P1", ["X"])]


def test_db2_distribute_between_alters_binds_last_table():
    parser = DB2DdlParser()
    t1, t2 = parser.parse(
        "CREATE TABLE A.T1 (X INTEGER);\n"
        "DISTRIBUTE BY HASH (X);\n"
        "CREATE TABLE A.T2 (Y INTEGER);\n"
        "ALTER TABLE A.T1 ADD CONSTRAINT P1 PRIMARY KEY (X);\n"
        "DISTRIBUTE BY HASH (Y);\n"
        "ALTER TABLE A.T2 ADD CONSTRAINT P2 PRIMARY KEY (Y);")
    # pass 2 runs after every table exists, so each DISTRIBUTE binds to the
    # last table of the script and the later one wins
    assert t1.distribute_by_hash is None
    assert t2.distribute_by_hash == "Y"
    assert [c.name for c in t1.constraints] == ["P1"]
    assert [c.name for c in t2.constraints] == ["P2"]


def _db2look_export(n_tables: int) -> str:
    creates = [f"CREATE TABLE S{i % 7}.T{i:05d} (ID INTEGER NOT NULL, "
               f"NAME VARCHAR(20)) IN TS1;" for i in range(n_tables)]
    alters = [f"ALTER TABLE S{i % 7}.T{i:05d} ADD CONSTRAINT PK{i} "
              f"PRIMARY KEY (ID);" for i in range(n_tables)]
    return "\n".join(["-- db2look export", "CONNECT TO DB;"] + creates + alters)


def test_db2_parse_time_is_linear_in_tables():
    """8x the tables costs about 8-10x the time; a per-ALTER table scan
    makes it about 30x."""
    import gc
    import time

    def best_of_3(text):
        best = float("inf")
        for _ in range(3):
            gc.collect()
            t0 = time.perf_counter()
            tables = DB2DdlParser().parse(text)
            best = min(best, time.perf_counter() - t0)
        assert all(t.constraints for t in tables)
        return best

    small, large = _db2look_export(1000), _db2look_export(8000)
    assert best_of_3(large) / best_of_3(small) < 20


# ---- Snowflake dialect ----------------------------------------------------

def parse_sf():
    return {t.full_name: t for t in SnowflakeDdlParser().parse(SNOWFLAKE_CORPUS)}


def test_sf_inventory_and_modifiers():
    tables = parse_sf()
    assert len(tables) == 8
    assert tables["SCRATCH.CART_SNAPSHOT"].temporary
    assert tables["SCRATCH.RAW_LOADS"].transient
    assert tables["REPORTS.DAILY_ROLLUP"].dynamic
    assert tables["LANDING.EVENTS_EXT"].external
    assert tables["OLTP.ORDERS_LIVE"].hybrid


def test_sf_column_modifiers():
    tables = parse_sf()
    dim = {c.name: c for c in tables["WAREHOUSE.DIM_ACCOUNT"].columns}
    assert dim["ACCOUNT_KEY"].identity == "1,1"
    assert dim["DISPLAY_NAME"].collate == "'en-ci'"
    assert dim["SECRET_NOTE"].masking_policy == "pii_mask"
    assert dim["OPENED_AT"].default == "CURRENT_TIMESTAMP()"
    assert not dim["ACCOUNT_CODE"].nullable
    snap = {c.name: c for c in tables["SCRATCH.CART_SNAPSHOT"].columns}
    assert snap["SNAP_ID"].identity == "1,1"


def test_sf_constraints_and_options():
    tables = parse_sf()
    dim = tables["WAREHOUSE.DIM_ACCOUNT"]
    assert dim.primary_key == ["ACCOUNT_KEY"]
    assert dim.unique_keys == [["ACCOUNT_CODE"]]
    assert dim.cluster_by == ["ACCOUNT_KEY"]
    assert dim.data_retention_days == 45
    assert dim.change_tracking is True
    assert dim.comment == "account dimension"
    fact = tables["WAREHOUSE.FACT_SHIPMENTS"]
    assert fact.foreign_keys[0]["ref_table"] == "WAREHOUSE.DIM_ACCOUNT"


def test_sf_three_part_names():
    tables = SnowflakeDdlParser().parse(
        "CREATE TABLE PROD.CORE.USERS (ID NUMBER(38,0));")
    assert tables[0].database == "PROD"
    assert tables[0].schema == "CORE"
    assert tables[0].name == "USERS"
