"""Command-line entry point — the engine's equivalent of the reference's
Streamlit buttons (app.py:2097-2138): assess, convert, and migrate, minus
the UI layer.

    python -m db2ice_db2_to_snowflake_iceberg_ddl_converter_spark assess  schema.sql
    python -m db2ice_db2_to_snowflake_iceberg_ddl_converter_spark convert schema.sql -o out.sql
    python -m db2ice_db2_to_snowflake_iceberg_ddl_converter_spark convert --dialect snowflake schema.sql
    python -m db2ice_db2_to_snowflake_iceberg_ddl_converter_spark migrate schema.sql \
        --source-root /data/src --dest-root /data/dst

assess/convert are driver-only (no SparkSession — DDL is KB-scale);
migrate spins up Spark and runs the read → cast → write jobs.
"""

from __future__ import annotations

import argparse
import json
import sys


def _read(path: str) -> str:
    if path == "-":
        return sys.stdin.read()
    with open(path) as fh:
        return fh.read()


def cmd_assess(args) -> int:
    from .assess import Assessor

    report = Assessor().assess(_read(args.ddl))
    if getattr(args, "pdf", None):
        from datetime import datetime, timezone

        from .report_pdf import generate_assessment_pdf

        stamp = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
        with open(args.pdf, "wb") as fh:
            fh.write(generate_assessment_pdf(report, generated_at=stamp))
        print(f"wrote {args.pdf}", file=sys.stderr)
    print(json.dumps(report.to_dict(), indent=2, default=str))
    return 0 if report.tables_total else 1


def cmd_convert(args) -> int:
    if args.dialect == "snowflake":
        from .convert import SnowflakeToIcebergGenerator as Gen
    else:
        from .convert import IcebergDdlGenerator as Gen
    result = Gen().convert(_read(args.ddl))
    for warning in getattr(result, "warnings", ()):
        print(f"warning: {warning}", file=sys.stderr)
    if not result.success:
        print(getattr(result, "error_message", "conversion failed"),
              file=sys.stderr)
        return 1
    if args.output:
        with open(args.output, "w") as fh:
            fh.write(result.iceberg_ddl)
        print(f"wrote {args.output} ({result.ewi_count} EWI markers)",
              file=sys.stderr)
    else:
        print(result.iceberg_ddl)
    return 0


def cmd_migrate(args) -> int:
    from .assess import Assessor
    from .session import get_spark
    from .sources.migrate import migrate_catalog

    tables = Assessor().parser.parse(_read(args.ddl))
    if not tables:
        print("no tables parsed", file=sys.stderr)
        return 1
    spark = get_spark("db2ice-migrate")
    migrated = migrate_catalog(spark, tables, args.source_root,
                               args.dest_root,
                               source_format=args.source_format,
                               dest_format=args.dest_format)
    for name, df in migrated.items():
        print(f"{name}: {df.count()} rows migrated")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="db2ice-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pa = sub.add_parser("assess", help="readiness report (JSON) from DDL")
    pa.add_argument("ddl", help="DDL file path, or - for stdin")
    pa.add_argument("--pdf", help="also write the PDF report here "
                    "(reference app.py:49 generate_assessment_pdf)")
    pa.set_defaults(fn=cmd_assess)

    pc = sub.add_parser("convert", help="emit Iceberg DDL")
    pc.add_argument("ddl")
    pc.add_argument("--dialect", choices=["db2", "snowflake"], default="db2")
    pc.add_argument("-o", "--output")
    pc.set_defaults(fn=cmd_convert)

    pm = sub.add_parser("migrate", help="run the Spark migration jobs")
    pm.add_argument("ddl")
    pm.add_argument("--source-root", required=True)
    pm.add_argument("--dest-root", required=True)
    pm.add_argument("--source-format", default="parquet")
    pm.add_argument("--dest-format", default="parquet")
    pm.set_defaults(fn=cmd_migrate)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
