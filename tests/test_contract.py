"""Driver-contract meta-tests: invariants of the __spark_entry__
surface itself (the oracle gate checks values; these check the
contract's shape so a registry mistake fails fast in CI rather than
in the driver)."""

from __future__ import annotations

import re

import __spark_entry__ as entrymod

SNAKE = re.compile(r"^[a-z][a-z0-9_]*$")


def test_oracle_keys_subset_of_queries():
    q, o = entrymod.queries(), entrymod.oracle_sql()
    extra = set(o) - set(q)
    assert not extra, f"oracles without queries: {extra}"


def test_rows_only_queries_are_known():
    """Every registered query carries an oracle (multimodal_features
    gained one via its sha-derived f0 column in round 2 -- the
    registry has no rows-only entries left)."""
    q, o = entrymod.queries(), entrymod.oracle_sql()
    rows_only = set(q) - set(o)
    assert rows_only == set(), rows_only


def test_query_names_are_snake_case():
    for name in entrymod.queries():
        assert SNAKE.match(name), name


def test_every_query_documented():
    for name, fn in entrymod.queries().items():
        assert fn.__doc__ and len(fn.__doc__.strip()) > 20, (
            f"{name} lacks a meaningful docstring"
        )


def test_oracles_are_single_statements():
    """The driver feeds each oracle to DuckDB as one statement; a
    stray semicolon would truncate it silently."""
    for name, sql in entrymod.oracle_sql().items():
        assert ";" not in sql, f"{name} oracle contains a semicolon"


def test_registry_size_matches_coverage_doc():
    """COVERAGE.md's gate line states the registry size; keep the
    documentation honest."""
    with open("COVERAGE.md") as f:
        text = f.read()
    n = len(entrymod.queries())
    assert f"{n}/{n} OK" in text, (
        f"COVERAGE.md gate line out of date (registry has {n} queries)"
    )


def test_never_driver_checked_queries_come_first():
    """The external driver oracle-checks a bounded prefix of queries()
    per round; the order is stalest-first on (latest green driver
    round, registry position), so names without a green CORRECTNESS
    row (round 0) precede every previously-checked name and coverage
    extends each round."""
    from mvp_mini_etl_pipeline_1762840347_spark import plans

    names = list(entrymod.queries())
    assert sorted(names) == sorted(plans.QUERIES)
    latest = entrymod._latest_green_round()
    registry_pos = {k: i for i, k in enumerate(plans.QUERIES)}
    keys = [(latest.get(n, 0), registry_pos[n]) for n in names]
    assert keys == sorted(keys), "queries() is not stalest-first"
    never_green = [n for n in names if latest.get(n, 0) == 0]
    assert names[: len(never_green)] == never_green
    # the same ordering applies to the oracle dict
    assert [n for n in names if n in entrymod.oracle_sql()] == list(
        entrymod.oracle_sql()
    )
