"""Benchmark entry point.

    python3 perfbench/run.py --workload ddl_requests --seed 1 --seconds 10 --trace 0

Run from the repository root. Makes the workload's inputs from ``--seed``,
sets the engine up (imports, JVM launch, session, one warm-up pass), then
runs complete passes of the workload until ``--seconds`` have elapsed,
checking every output. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it records the run's settings
and sample counts. Everything the run writes goes under
``.perfbench_tmp/`` in the repository and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

import harness
from workloads import PKG, QUERIES, WORKLOADS, Ctx, instrument

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DRIVER_MEM = "1g"

_TABLES = ("lineitem", "orders", "customer", "part", "supplier", "nation",
           "region", "events", "documents")
_MODULES = ("relational", "relational_ext", "dedup", "similarity",
            "textstats", "scale")

# name -> unit. Times ending in ``_s`` are seconds per pass, and counts are
# per pass, over the traced half of a traced run; ``wall.*`` and ``cpu.*``
# come from its untraced half.
PER_LAYER: dict[str, str] = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "ddl.db2_parse_s": "s",
    "ddl.snowflake_parse_s": "s",
    "ddl.parse_us_per_table": "us",
    "ddl.statements": "count",
    "ddl.tables": "count",
    "ddl.warnings": "count",
    "mapping.calls": "count",
    "mapping.map_s": "s",
    "assess.assess_tables_s": "s",
    "convert.table_ddl_s": "s",
    "convert.ewi_markers": "count",
    "report_pdf.generate_s": "s",
    "report_pdf.bytes": "bytes",
    "catalog.schema_catalog_df_s": "s",
    "catalog.assess_catalog_s": "s",
    "catalog.type_distribution_s": "s",
    "catalog.cast_plan_s": "s",
    "catalog.columns_per_s": "1/s",
    "catalog.spark_jobs": "count",
    "catalog.spark_tasks": "count",
    **{f"sources.migrate_table_s.{t}": "s" for t in _TABLES},
    "sources.read_table_s": "s",
    "sources.write_table_v2_s": "s",
    "sources.files_written": "count",
    "sources.bytes_written": "bytes",
    "sources.bytes_per_source_byte": "ratio",
    "sources.spark_jobs": "count",
    "sources.spark_tasks": "count",
    **{f"operators.{m}.{k}": u for m in _MODULES
       for k, u in (("build_s", "s"), ("collect_s", "s"),
                    ("spark_jobs", "count"), ("spark_tasks", "count"))},
    **{f"query.{q}.s": "s" for q in QUERIES},
    "spark.failed_tasks": "count",
    "fail_ratio": "ratio",
    "trace.spans": "count",
    "trace.overhead_ms": "ms",
    "wall.op_p50_ms": "ms",
    "wall.op_p95_ms": "ms",
    "wall.throughput_per_s": "1/s",
    "cpu.op_p50_ms": "ms",
    "cpu.op_p95_ms": "ms",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(tmp: str, cpus: int) -> None:
    """Send every file Spark, the JVM and Python write into ``tmp``."""
    os.makedirs(os.path.join(tmp, "spark-local"))
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # C1-only JIT: on 4 cores the JVM reaches its steady speed sooner,
        # so a short warm-up leaves less drift in the measured passes
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                              "-XX:TieredStopAtLevel=1"),
    })
    import tempfile
    tempfile.tempdir = None
    os.chdir(tmp)   # spark-warehouse/ and derby.log land here


def _measure(wl, ctx, seconds: float) -> None:
    """Complete passes until ``seconds`` have elapsed (at least one)."""
    now = harness.now
    end = now() + seconds
    while True:
        busy = ctx.busy
        wl.run_pass(ctx)
        ctx.passes += 1
        ctx.pass_busy.append(ctx.busy - busy)
        if now() >= end:
            return


def _end_to_end(ctx, setup, rss) -> dict:
    """The metrics steady enough to hold a regression bound on a shared
    virtual machine; operation latencies are per-layer metrics of the
    traced run (see README.md)."""
    return {
        "setup_s": (setup["setup_s"], "s"),
        "peak_rss_mb": (rss, "MB"),
        "items_per_cpu_s": (ctx.items / ctx.cpu_busy, "1/s"),
    }


def _latency(ctx) -> dict[str, float]:
    """Operation latency and throughput of one measuring phase."""
    percentile = harness.percentile
    return {
        "wall.op_p50_ms": percentile(ctx.latencies, 50) * 1e3,
        "wall.op_p95_ms": percentile(ctx.latencies, 95) * 1e3,
        "wall.throughput_per_s": ctx.items / ctx.busy,
        "cpu.op_p50_ms": percentile(ctx.cpu, 50) * 1e3,
        "cpu.op_p95_ms": percentile(ctx.cpu, 95) * 1e3,
    }


def _per_layer(ctx, tracer, setup, untraced) -> dict:
    selft = tracer.self_times()
    counts = tracer.counts()
    c, n = ctx.counters, ctx.passes

    def per_pass(key):
        if key in c:
            return c[key] / n
        if key.endswith("_s") and key[:-2] in selft:
            return selft[key[:-2]] / n
        return 0.0

    parse_s = selft.get("ddl.db2_parse", 0.0) + selft.get("ddl.snowflake_parse", 0.0)
    derived = {
        "session.get_spark_s": setup["session.get_spark_s"],
        "session.warmup_s": setup["session.warmup_s"],
        "ddl.parse_us_per_table": (parse_s / c["ddl.parsed_tables"] * 1e6
                                   if c.get("ddl.parsed_tables") else 0.0),
        "mapping.calls": counts.get("mapping.map", 0) / n,
        "catalog.columns_per_s": (c["catalog.columns"] / c["catalog.pass_s"]
                                  if c.get("catalog.pass_s") else 0.0),
        "sources.bytes_per_source_byte": (
            c["sources.bytes_written"] / c["sources.source_bytes"]
            if c.get("sources.source_bytes") else 0.0),
        "fail_ratio": ctx.failed / max(ctx.attempted, 1),
        "trace.spans": len(tracer.spans) / n,
        "trace.overhead_ms": (harness.percentile(ctx.latencies, 50) * 1e3
                              - untraced["wall.op_p50_ms"]),
        **untraced,
    }
    return {k: (derived[k] if k in derived else per_pass(k), unit)
            for k, unit in PER_LAYER.items()}


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"{PKG} not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

    # on SIGTERM, unwind through the clean-up below instead of dying
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    host = harness.SparkHost()
    try:
        _isolate(tmp, cpus)
        tracer = harness.Tracer(False)
        ctx = Ctx(tmp, args.seed, tracer)
        wl = WORKLOADS[args.workload]()
        wl.prepare(ctx)

        # Set-up, as a fresh process pays it: import the engine, launch the
        # JVM and build the session, then one unchecked warm-up pass.
        t0 = harness.now()
        ctx.spark = host.start()
        ctx.cpu_clock = harness.cpu_clock(harness.children(os.getpid()))
        t1 = harness.now()
        wl.run_pass(ctx, check=False)
        t2 = harness.now()
        setup = {"setup_s": t2 - t0, "session.get_spark_s": t1 - t0,
                 "session.warmup_s": t2 - t1}
        ctx.attempted = ctx.failed = 0
        wl.expect(ctx)

        if args.trace:
            ctx.reset()
            _measure(wl, ctx, args.seconds / 2)
            untraced = _latency(ctx)
            ctx.reset()
            tracer.enabled = True
            with instrument(tracer):
                _measure(wl, ctx, args.seconds / 2)
            tracer.enabled = False
            metrics = _per_layer(ctx, tracer, setup, untraced)
        else:
            ctx.reset()
            _measure(wl, ctx, args.seconds)
            metrics = _end_to_end(ctx, setup, harness.peak_rss_mb())
        info = {"workload": args.workload, "seed": args.seed,
                "cores": cpus, "spark_master": f"local[{cpus}]",
                "driver_heap": DRIVER_MEM, "passes": ctx.passes,
                "latency_samples": len(ctx.latencies),
                "pass_busy_s": ctx.pass_busy,
                **setup}
    finally:
        host.close()
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass   # another run is using it

    print(json.dumps(info))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
