"""tools/check_oracle_parity.py: flag parsing and the missing-oracle rule."""

from db2ice_db2_to_snowflake_iceberg_ddl_converter_spark.registry import (
    build_oracles,
    build_queries,
)
from tools.check_oracle_parity import check_entry, connect, parse_args


def test_flags_in_either_order():
    for argv in (["--sf-dir", "D", "--first", "50"],
                 ["--first", "50", "--sf-dir", "D"]):
        args = parse_args(argv)
        assert (args.first, args.sf_dir, args.filters) == (50, "D", [])
    args = parse_args(["q1", "--first", "5", "dedup"])
    assert (args.first, args.filters) == (5, ["q1", "dedup"])


def test_entry_without_oracle_fails(spark, sf_dir):
    name = "q1_pricing_summary"
    query, oracle = build_queries()[name], build_oracles()[name]
    con = connect(sf_dir)
    assert check_entry(query, oracle, spark, sf_dir, con)[0]
    ok, detail = check_entry(query, None, spark, sf_dir, con)
    assert not ok and detail.startswith("no oracle")
