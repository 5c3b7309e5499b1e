"""Pins of the query registry behind ``__spark_entry__.py``.

tests/golden/registry.json holds one record per ``build_queries()`` entry,
in order: the name, the callable's ``__module__`` and ``__qualname__``, and
the sha256 of the entry's ``build_oracles()`` SQL. The first 50 entries
are the driver's correctness window; CORRECTNESS_r13.json is the last
window the driver recorded.
"""

import hashlib
import json
import os

from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.registry import (
    build_oracles,
    build_queries,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(ROOT, "tests", "golden", "registry.json")


def _records() -> list[dict]:
    queries, oracles = build_queries(), build_oracles()
    return [{"name": name,
             "module": fn.__module__,
             "qualname": fn.__qualname__,
             "oracle_sha256": hashlib.sha256(
                 oracles[name].encode("utf-8")).hexdigest()}
            for name, fn in queries.items()]


def test_registry_matches_golden():
    with open(GOLDEN, encoding="utf-8") as f:
        want = json.load(f)
    assert _records() == want
    assert len(build_oracles()) == len(want)


def test_driver_window_is_last_recorded_window():
    with open(os.path.join(ROOT, "CORRECTNESS_r13.json"),
              encoding="utf-8") as f:
        window = list(json.load(f))
    assert list(build_queries())[:50] == window
