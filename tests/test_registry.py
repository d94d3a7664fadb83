"""The ``QUERIES`` table in ``__spark_entry__`` is the one place a query
name is listed: the correctness gates, their oracles and the ``bench.py``
suite all derive from it. Pure table checks, no Spark session."""

import json
import pathlib

import __spark_entry__ as e

ROOT = pathlib.Path(__file__).resolve().parent.parent


def test_gate_count_is_the_cap_of_50():
    assert len(e.queries()) == 50


def test_a_gate_is_exactly_a_row_with_an_oracle():
    with_oracle = {n for n, q in e.QUERIES.items() if q.oracle is not None}
    assert set(e.queries()) == set(e.oracle_sql()) == with_oracle
    for name, sql in e.oracle_sql().items():
        assert e.QUERIES[name].oracle == sql


def test_every_row_is_gated_or_benched():
    idle = [n for n, q in e.QUERIES.items() if q.oracle is None and not q.bench]
    assert not idle, idle


def test_bench_runs_the_ledger_suite_in_ledger_order():
    # per-query times stay comparable with the recorded BENCH_r05 run
    r05 = json.loads((ROOT / "BENCH_r05.json").read_text())
    names = list(e.bench_queries())
    assert len(names) == 71
    assert names == list(r05["parsed"]["queries"])


def test_helpers_used_by_tests_and_tools_exist():
    for name in [
        "TABLES", "_reg", "_t", "_doc_points", "_tin_points", "_TIN_GRID",
        "_convex_ring", "_la_fixture", "_LA_NA", "_LA_NB", "_WAGG_N",
        "_WAGG_DST_GT", "_WARP_SRC_GT",
    ]:
        assert hasattr(e, name), name
    assert callable(e.QUERIES["q1_pricing_summary"].fn)
