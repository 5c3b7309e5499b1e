"""The three workloads. Each one has the same shape:

- ``prepare`` makes the seeded inputs (not timed);
- ``run_pass`` runs one complete pass over the input, timing each
  operation through ``Ctx.op``. With ``check=True`` it checks every output
  (not timed) and counts failures; the set-up's warm-up pass runs with
  ``check=False``.

One closed-loop client issues every operation in turn. Per-layer numbers
come from spans around the calls into each engine module (see
``instrument``), recorded only in traced passes.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import sys
import time
import traceback

import gen_ddl
import gen_tables
from harness import now, spark_counts

PKG = "db2ice_db2_to_snowflake_iceberg_ddl_converter_spark"
STAMP = "2026-01-01 00:00:00"


class Ctx:
    """Per-run state the workloads share."""

    def __init__(self, tmp: str, seed: int, tracer) -> None:
        self.tmp = tmp
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.cpu_clock = time.process_time   # replaced once the JVM runs
        self.attempted = 0
        self.failed = 0
        self.reset()
        self._group = 0

    def reset(self) -> None:
        """Start a new measuring phase."""
        self.latencies: list[float] = []   # one per sampled operation
        self.cpu: list[float] = []         # CPU seconds of each of those
        self.busy = 0.0                    # time inside operations
        self.cpu_busy = 0.0                # CPU seconds inside operations
        self.items = 0                     # work units completed
        self.passes = 0
        self.pass_busy: list[float] = []   # busy time of each pass
        self.counters: dict[str, float] = {}

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + value

    def fail(self, what: str, detail: str = "") -> None:
        self.failed += 1
        print(f"FAILED {what}: {detail}", file=sys.stderr)

    @contextlib.contextmanager
    def guard(self, what: str):
        """Count an operation or check that raises as failed, and go on."""
        try:
            yield
        except Exception:
            self.fail(what, traceback.format_exc())

    @contextlib.contextmanager
    def op(self, name: str, prefix: str, sample: bool = True):
        """One timed operation; in traced passes, also its Spark counters.

        ``sample=False`` counts the time as busy time without adding a
        latency sample (the once-per-pass catalog pass)."""
        self.attempted += 1
        traced = self.tracer.enabled and self.spark is not None
        if traced:
            self._group += 1
            group = f"perfbench-{self._group}"
            self.spark.sparkContext.setJobGroup(group, name)
        c0, t0 = self.cpu_clock(), now()
        try:
            with self.tracer.span(name):
                yield
        finally:
            dt, dc = now() - t0, self.cpu_clock() - c0
            self.busy += dt
            self.cpu_busy += dc
            if sample:
                self.latencies.append(dt)
                self.cpu.append(dc)
            if traced:
                jobs, tasks, failed = spark_counts(self.spark.sparkContext, group)
                self.add(f"{prefix}.spark_jobs", jobs)
                self.add(f"{prefix}.spark_tasks", tasks)
                self.add("spark.failed_tasks", failed)
                self.spark.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", None)


@contextlib.contextmanager
def instrument(tracer):
    """Wrap module-level engine functions with spans for a traced pass."""
    import importlib

    targets = [
        (f"{PKG}.assess", "map_db2_type", "mapping.map"),
        (f"{PKG}.convert", "map_db2_type", "mapping.map"),
        (f"{PKG}.catalog", "map_db2_type", "mapping.map"),
        (f"{PKG}.sources.migrate", "cast_plan", "catalog.cast_plan"),
        (f"{PKG}.sources.migrate", "read_table", "sources.read_table"),
        (f"{PKG}.sources.migrate", "write_table_v2", "sources.write_table_v2"),
    ]
    saved = []
    for mod_name, attr, span in targets:
        mod = importlib.import_module(mod_name)
        if hasattr(mod, attr):
            saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, tracer.wrap(span, getattr(mod, attr)))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


# --------------------------------------------------------------------------
# ddl_requests

_DB2_COL = re.compile(r"^    C\d{3}_\d{4} (.+?)(?: NOT NULL)?,?$", re.M)
_SF_COL = re.compile(r"^    C\d{2} (\S+?)(?: NOT NULL)?,?$", re.M)


class DdlRequests:
    """Assess and convert requests over a heavy-tailed DDL corpus, then one
    Spark catalog pass over every DB2 table parsed in the pass."""

    name = "ddl_requests"
    scripts_per_pass = 20
    export_tables = 600

    def prepare(self, ctx: Ctx) -> None:
        self.corpus = gen_ddl.make_corpus(ctx.seed, self.scripts_per_pass,
                                          self.export_tables)

    def expect(self, ctx: Ctx) -> None:
        pass

    def run_pass(self, ctx: Ctx, check: bool = True) -> None:
        with ctx.guard("ddl pass"):
            self._pass(ctx, self.corpus, check)
        ctx.items += sum(s.n_tables for s in self.corpus)
        # the assess and the convert request each parse a DB2 script
        ctx.add("ddl.parsed_tables", sum(
            s.n_tables * (2 if s.dialect == "db2" else 1) for s in self.corpus))

    def _pass(self, ctx: Ctx, corpus, check: bool) -> None:
        from importlib import import_module
        assess = import_module(f"{PKG}.assess")
        convert = import_module(f"{PKG}.convert")
        report_pdf = import_module(f"{PKG}.report_pdf")
        tr = ctx.tracer
        parsed: list = []
        scores: dict[tuple, float] = {}
        for script in corpus:
            # assess request (DB2 only, as the CLI's ``assess``)
            if script.dialect == "db2":
                tr.request += 1
                with ctx.op("request.assess", "ddl"):
                    a = assess.Assessor()
                    parse = a.parser.parse
                    a.parser.parse = lambda text: _keep(parsed, parse(text))
                    if tr.enabled:
                        a.parser.parse = tr.wrap("ddl.db2_parse", a.parser.parse)
                        a.assess_tables = tr.wrap("assess.assess_tables",
                                                  a.assess_tables)
                    report = a.assess(script.text)
                    with tr.span("report_pdf.generate"):
                        pdf = report_pdf.generate_assessment_pdf(
                            report, generated_at=STAMP)
                if check:
                    self._check_assess(ctx, script, report, pdf, a.parser)
                    for ta in report.table_assessments:
                        scores[(ta.schema, ta.table_name)] = ta.readiness_score
            # convert request
            tr.request += 1
            with ctx.op("request.convert", "ddl"):
                if script.dialect == "db2":
                    gen = convert.IcebergDdlGenerator()
                    if tr.enabled:
                        gen.parser.parse = tr.wrap("ddl.db2_parse", gen.parser.parse)
                        gen.assessor.assess_tables = tr.wrap(
                            "assess.assess_tables", gen.assessor.assess_tables)
                else:
                    gen = convert.SnowflakeToIcebergGenerator()
                    if tr.enabled:
                        gen.parser.parse = tr.wrap("ddl.snowflake_parse",
                                                   gen.parser.parse)
                if tr.enabled:
                    gen.table_ddl = tr.wrap("convert.table_ddl", gen.table_ddl)
                result = gen.convert(script.text)
            if check:
                self._check_convert(ctx, script, result)
        tr.request += 1
        t0 = now()
        with ctx.op("catalog.pass", "catalog", sample=False):
            rows = self._catalog(ctx, parsed)
        ctx.add("catalog.pass_s", now() - t0)
        if check:
            self._check_catalog(ctx, parsed, scores, rows)

    def _catalog(self, ctx: Ctx, tables):
        from importlib import import_module
        catalog = import_module(f"{PKG}.catalog")
        tr = ctx.tracer
        with tr.span("catalog.schema_catalog_df"):
            cat = catalog.schema_catalog_df(ctx.spark, tables)
        with tr.span("catalog.assess_catalog"):
            per_table = [(r.table_schema, r.table_name, r.readiness_score)
                         for r in catalog.assess_catalog(cat).select(
                             "table_schema", "table_name",
                             "readiness_score").collect()]
        with tr.span("catalog.type_distribution"):
            dist = catalog.type_distribution(cat).collect()
        return per_table, dist

    def _check_assess(self, ctx, script, report, pdf, parser) -> None:
        ctx.add("ddl.tables", report.tables_total)
        ctx.add("ddl.statements", script.text.count(";"))
        ctx.add("ddl.warnings", len(parser.warnings))
        ctx.add("report_pdf.bytes", len(pdf))
        if (report.tables_total != script.n_tables
                or report.total_columns != script.n_columns
                or not pdf.startswith(b"%PDF")):
            ctx.fail("assess", f"tables {report.tables_total}/{script.n_tables} "
                     f"columns {report.total_columns}/{script.n_columns}")

    def _check_convert(self, ctx, script, result) -> None:
        ctx.add("convert.ewi_markers", result.ewi_count)
        text = result.iceberg_ddl
        expected = [t for tab in script.tables for t in tab[3]]
        if script.dialect == "db2":
            got = _DB2_COL.findall(text)
            n_temp = sum(1 for tab in script.tables if tab[2])
        else:
            ctx.add("ddl.tables", result.tables_converted)
            got = _SF_COL.findall(text)
            n_temp = 0
        n_iceberg = text.count("CREATE OR REPLACE ICEBERG TABLE")
        if (not result.success or result.tables_converted != script.n_tables
                or n_iceberg != script.n_tables - n_temp or got != expected):
            bad = [(g, e) for g, e in zip(got, expected) if g != e][:3]
            ctx.fail(f"convert {script.dialect}",
                     f"tables {result.tables_converted}/{script.n_tables} "
                     f"iceberg {n_iceberg} columns {len(got)}/{len(expected)} "
                     f"first mismatches {bad}")

    def _check_catalog(self, ctx, parsed, scores, rows) -> None:
        per_table, dist = rows
        n_cols = sum(len(t.columns) for t in parsed)
        ctx.add("catalog.columns", n_cols)
        got = {(s, n): v for s, n, v in per_table}
        bad = [k for k, v in scores.items()
               if k not in got or abs(got[k] - v) > 1e-9]
        if (len(got) != len(scores) or bad
                or sum(r["n"] for r in dist) != n_cols):
            ctx.fail("catalog", f"{len(bad)} score mismatches of {len(scores)}, "
                     f"e.g. {bad[:3]}")


def _keep(sink: list, tables: list) -> list:
    sink.extend(tables)
    return tables


# --------------------------------------------------------------------------
# migrate_tables

class MigrateTables:
    """``migrate_table`` for each table of the migration DDL, each into a
    fresh destination (the parquet branch of ``write_table_v2``)."""

    name = "migrate_tables"
    lineitem_rows = 20_000
    ship_days = 90

    def prepare(self, ctx: Ctx) -> None:
        self.data = os.path.join(ctx.tmp, "data")
        self.rows = gen_tables.write_tables(self.data, ctx.seed,
                                            self.lineitem_rows, self.ship_days)
        self.oracle: dict[str, tuple] = {}

    def expect(self, ctx: Ctx) -> None:
        """Parquet types each written column must have, from the Spark
        types ``struct_type_for`` gives (not timed)."""
        from importlib import import_module
        catalog = import_module(f"{PKG}.catalog")
        self.want_types = {
            t.name: {f.name: _arrow_type(f.dataType)
                     for f in catalog.struct_type_for(t).fields}
            for t in self._tables()}

    def _tables(self):
        from importlib import import_module
        parser = import_module(f"{PKG}.ddl").DB2DdlParser()
        return parser.parse(gen_tables.MIGRATION_DDL)

    def run_pass(self, ctx: Ctx, check: bool = True) -> None:
        from importlib import import_module
        migrate = import_module(f"{PKG}.sources.migrate")
        for t in self._tables():
            name = t.name.lower()
            src = os.path.join(self.data, f"{name}.parquet")
            dest = os.path.join(ctx.tmp, "dest", name)
            ctx.tracer.request += 1
            with ctx.guard(f"migrate {name}"):
                with ctx.op(f"sources.migrate_table.{name}", "sources"):
                    migrate.migrate_table(ctx.spark, t, src, dest)
                ctx.add(f"sources.migrate_table_s.{name}", ctx.latencies[-1])
                ctx.items += self.rows[name]
                if check:
                    self._check(ctx, t, src, dest)
            shutil.rmtree(dest, ignore_errors=True)

    def _check(self, ctx: Ctx, table, src: str, dest: str) -> None:
        """Row count + order-insensitive hash against DuckDB reading the
        source under the same casts; read-back types vs ``struct_type_for``."""
        import duckdb
        import pyarrow.parquet as pq

        files = nbytes = 0
        got_types: dict[str, object] = {}
        for root, _, names in os.walk(dest):
            for n in names:
                if not n.startswith((".", "_")):
                    files += 1
                    path = os.path.join(root, n)
                    nbytes += os.path.getsize(path)
                    for f in pq.read_schema(path):
                        got_types.setdefault(f.name, f.type)
        want_types = self.want_types[table.name]
        # a partition column lives in directory names, not in the files;
        # the DuckDB hash below covers its values
        partition = set(table.partition.columns) if table.partition else set()
        want_types = {k: v for k, v in want_types.items() if k not in partition}
        ctx.add("sources.files_written", files)
        ctx.add("sources.bytes_written", nbytes)
        ctx.add("sources.source_bytes", os.path.getsize(src))

        casts = [f"CAST({c.name.lower()} AS {_duck_type(c)})"
                 for c in table.columns]
        hash_sql = f"count(*), sum(hash({', '.join(casts)})::HUGEINT)"
        key = table.name
        with duckdb.connect() as con:
            if key not in self.oracle:
                self.oracle[key] = con.sql(
                    f"SELECT {hash_sql} FROM read_parquet('{src}')").fetchone()
            got = con.sql(
                f"SELECT {hash_sql} FROM read_parquet('{dest}/**/*.parquet', "
                "hive_partitioning = true)").fetchone()
        if got != self.oracle[key] or got_types != want_types:
            ctx.fail(f"migrate {key}", f"rows/hash {got} vs {self.oracle[key]}, "
                     f"types {got_types} vs {want_types}")


def _arrow_type(spark_type):
    """The parquet (Arrow) type Spark writes for one Spark column type."""
    import pyarrow as pa
    from pyspark.sql import types as T
    if isinstance(spark_type, T.DecimalType):
        return pa.decimal128(spark_type.precision, spark_type.scale)
    return {
        T.IntegerType(): pa.int32(), T.LongType(): pa.int64(),
        T.DoubleType(): pa.float64(), T.FloatType(): pa.float32(),
        T.StringType(): pa.string(), T.DateType(): pa.date32(),
        T.TimestampNTZType(): pa.timestamp("us"),
    }[spark_type]


def _duck_type(col) -> str:
    base = col.data_type.split("(")[0].strip()
    if base == "DECIMAL":
        return f"DECIMAL({col.precision},{col.scale or 0})"
    return gen_tables.DUCKDB_TYPE[base]


# --------------------------------------------------------------------------
# validate_queries

QUERIES = (
    "q1_pricing_summary",
    "q13_customer_distribution",
    "dedup_exact_docs",
    "ann_brute_force_topk",
    "text_token_stats",
    "join_salted_hot_key",
)


class ValidateQueries:
    """Registry queries back-to-back in one session, each result checked
    against its DuckDB ``oracle_sql`` twin by value hash."""

    name = "validate_queries"
    lineitem_rows = 30_000

    def prepare(self, ctx: Ctx) -> None:
        self.data = os.path.join(ctx.tmp, "data")
        gen_tables.write_tables(self.data, ctx.seed, self.lineitem_rows, 2400)

    def expect(self, ctx: Ctx) -> None:
        """DuckDB oracle results, computed once per run (not timed)."""
        self.expected = self._oracle()

    def _oracle(self) -> dict[str, tuple]:
        import duckdb
        from importlib import import_module
        registry = import_module(f"{PKG}.registry")
        parity = _parity()
        oracles = registry.build_oracles()
        con = duckdb.connect()
        for t in parity.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data}/{t}.parquet')")
        out = {}
        for q in QUERIES:
            cols, rows, _ = parity.duckdb_result(con, oracles[q])
            out[q] = (sorted(cols), len(rows), parity.value_hash(cols, rows))
        con.close()
        return out

    def run_pass(self, ctx: Ctx, check: bool = True) -> None:
        from importlib import import_module
        queries = import_module(f"{PKG}.registry").build_queries()
        parity = _parity()
        tr = ctx.tracer
        for q in QUERIES:
            fn = queries[q]
            module = fn.__module__.rsplit(".", 1)[-1]
            tr.request += 1
            with ctx.guard(f"query {q}"):
                with ctx.op(f"query.{q}", f"operators.{module}"):
                    t0 = now()
                    with tr.span(f"operators.{module}.build"):
                        df = fn(ctx.spark, self.data)
                    t1 = now()
                    with tr.span(f"operators.{module}.collect"):
                        rows = [tuple(r) for r in df.collect()]
                    t2 = now()
                ctx.items += 1
                ctx.add(f"operators.{module}.build_s", t1 - t0)
                ctx.add(f"operators.{module}.collect_s", t2 - t1)
                ctx.add(f"query.{q}.s", ctx.latencies[-1])
                if not check:
                    continue
                cols = [c.lower() for c in df.columns]
                want = self.expected[q]
                got = (sorted(cols), len(rows), parity.value_hash(cols, rows))
                if got != want:
                    ctx.fail(f"query {q}", f"{got[:2]} vs {want[:2]}")


def _parity():
    """tools/check_oracle_parity.py, the repository's oracle-parity gate
    (``run.py`` puts ``tools`` on the import path)."""
    from importlib import import_module
    return import_module("check_oracle_parity")


WORKLOADS = {w.name: w for w in (DdlRequests, MigrateTables, ValidateQueries)}
