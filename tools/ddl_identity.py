#!/usr/bin/env python
"""Byte-identity check of the schema plane between the working tree and a
git ref.

Runs both trees over the same DDL inputs and compares every output:

- ``tables``: ``dataclasses.asdict`` of every parsed ``TableDef``
  (``SnowflakeTableDef`` for Snowflake scripts);
- ``warnings`` and ``errors`` of the parser;
- ``ddl`` (the Iceberg DDL text) and ``ewi_count`` of the converter;
- ``assessment``: the ``Assessor`` report JSON (for Snowflake scripts,
  ``snowflake_assessment_report`` and the converter's issues);
- ``pdf``: sha256 of the assessment PDF bytes;
- ``struct_type``: ``catalog.struct_type_for(table).json()`` per table.

Inputs: the perfbench ``gen_ddl`` corpora (``--seeds``, 1-10 by default),
``gen_tables.MIGRATION_DDL`` and the test fixtures' ``DB2_CORPUS`` and
``SNOWFLAKE_CORPUS``, all read from the working tree so both sides parse
the same text.

Usage:
    python tools/ddl_identity.py --ref HEAD~1
    python tools/ddl_identity.py --ref main --seeds 1-3

Prints identical and different counts per output, then the first
differences, and exits 1 on any difference. The ref is unpacked with
``git archive`` into a temporary directory; each tree runs in its own
Python process.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "db2ice_db2_to_snowflake_iceberg_ddl_converter_spark"
STAMP = "2026-01-01 00:00:00"
# perfbench's ddl_requests sizes: 20 scripts per pass, 600-table exports
SCRIPTS, EXPORT_TABLES = 20, 600


def inputs(seeds: list[int]) -> list[tuple[str, str, str]]:
    """(name, dialect, DDL text) of every input, from the working tree."""
    sys.path[:0] = [os.path.join(ROOT, "perfbench"),
                    os.path.join(ROOT, "tests")]
    import gen_ddl
    import gen_tables
    from fixtures import DB2_CORPUS, SNOWFLAKE_CORPUS

    out = [("MIGRATION_DDL", "db2", gen_tables.MIGRATION_DDL),
           ("DB2_CORPUS", "db2", DB2_CORPUS),
           ("SNOWFLAKE_CORPUS", "snowflake", SNOWFLAKE_CORPUS)]
    for seed in seeds:
        for i, s in enumerate(gen_ddl.make_corpus(seed, SCRIPTS,
                                                  EXPORT_TABLES)):
            out.append((f"seed{seed}/{i:02d}", s.dialect, s.text))
    return out


def collect(root: str, seeds: list[int]) -> dict[str, dict[str, str]]:
    """{input name: {output: text}} of the package found under ``root``."""
    todo = inputs(seeds)
    sys.path.insert(0, root)
    from importlib import import_module
    assess = import_module(f"{PKG}.assess")
    catalog = import_module(f"{PKG}.catalog")
    convert = import_module(f"{PKG}.convert")
    ddl = import_module(f"{PKG}.ddl")
    report_pdf = import_module(f"{PKG}.report_pdf")

    def dump(value) -> str:
        return json.dumps(value, sort_keys=True, default=str)

    records = {}
    for name, dialect, text in todo:
        rec = {}
        if dialect == "db2":
            parser = ddl.DB2DdlParser()
            tables = parser.parse(text)
            result = convert.IcebergDdlGenerator().convert(text)
            report = assess.Assessor().assess(text)
            pdf = report_pdf.generate_assessment_pdf(report, generated_at=STAMP)
            rec["assessment"] = report.to_json()
            rec["pdf"] = hashlib.sha256(pdf).hexdigest()
            rec["struct_type"] = dump([catalog.struct_type_for(t).json()
                                       for t in tables])
        else:
            parser = ddl.SnowflakeDdlParser()
            tables = parser.parse(text)
            result = convert.SnowflakeToIcebergGenerator().convert(text)
            report = convert.snowflake_assessment_report(result, text)
            rec["assessment"] = dump([report.to_dict(),
                                      [i.to_dict() for i in result.issues]])
        rec["tables"] = dump([dataclasses.asdict(t) for t in tables])
        rec["warnings"] = dump(getattr(parser, "warnings", None))
        rec["errors"] = dump(getattr(parser, "errors", None))
        rec["ddl"] = result.iceberg_ddl
        rec["ewi_count"] = str(result.ewi_count)
        records[name] = rec
    return records


def compare(base: dict, change: dict) -> tuple[dict, list]:
    """Per output, [identical, different] counts, and the differing
    (input, output) pairs; an input or output on one side only differs."""
    counts: dict[str, list[int]] = {}
    diffs = []
    for name in sorted(set(base) | set(change)):
        a, b = base.get(name, {}), change.get(name, {})
        for output in sorted(set(a) | set(b)):
            same = output in a and output in b and a[output] == b[output]
            counts.setdefault(output, [0, 0])[0 if same else 1] += 1
            if not same:
                diffs.append((name, output))
    return counts, diffs


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _run_collector(root: str, seeds: str, out: str) -> None:
    subprocess.run([sys.executable, os.path.abspath(__file__), "--collect",
                    root, "--seeds", seeds, "--out", out], check=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--ref", help="git ref to compare the working tree with")
    ap.add_argument("--seeds", default="1-10", help="gen_ddl seeds, e.g. 1-10")
    ap.add_argument("--collect", metavar="ROOT", help=argparse.SUPPRESS)
    ap.add_argument("--out", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if args.collect:
        with open(args.out, "w", encoding="utf-8") as f:
            json.dump(collect(args.collect, _seeds(args.seeds)), f)
        return 0
    if not args.ref:
        ap.error("--ref is required")

    with tempfile.TemporaryDirectory(prefix="ddl-identity-") as tmp:
        ref_root = os.path.join(tmp, "ref")
        os.mkdir(ref_root)
        archive = subprocess.run(["git", "-C", ROOT, "archive", args.ref],
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", ref_root], input=archive,
                       check=True)
        sides = {}
        for side, root in (("ref", ref_root), ("work", ROOT)):
            path = os.path.join(tmp, f"{side}.json")
            _run_collector(root, args.seeds, path)
            with open(path, encoding="utf-8") as f:
                sides[side] = json.load(f)

    return report(sides["ref"], sides["work"], f"{args.ref} vs working tree")


def report(base: dict, change: dict, label: str) -> int:
    """Print the comparison; the exit status is 1 on any difference."""
    counts, diffs = compare(base, change)
    print(f"{len(base)} inputs, {label}")
    for output, (same, different) in sorted(counts.items()):
        print(f"  {output:12s} identical {same:5d}  different {different}")
    for name, output in diffs[:20]:
        print(f"DIFFERENT {name} {output}")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
