"""Registry invariants: the driver window, the extras and the oracle
table describe one set of queries, and the README's coverage numbers are
that set's sizes. No Spark session is needed: builders are only looked
up, never called."""

from __future__ import annotations

import os
import re

import __spark_entry__ as entrymod


def test_driver_window_holds_50_distinct_queries():
    names = list(entrymod.queries())
    assert len(names) == 50 and len(set(names)) == 50


def test_window_and_extras_are_disjoint_and_match_the_oracle_keys():
    window, extra = set(entrymod.queries()), set(entrymod.extra_queries())
    assert not window & extra
    assert window | extra == set(entrymod.oracle_sql())
    assert list(entrymod.all_queries()) == list(entrymod.queries()) + list(
        entrymod.extra_queries()
    )


def test_readme_coverage_counts_match_the_registry():
    readme = os.path.join(os.path.dirname(os.path.abspath(entrymod.__file__)), "README.md")
    text = " ".join(open(readme, encoding="utf-8").read().split())
    m = re.search(
        r"Coverage: (\d+) oracle-backed queries — `queries\(\)` holds the (\d+)-entry "
        r"driver-checked window .*? `extra_queries\(\)` the (\d+) ",
        text,
    )
    assert m, "README coverage sentence not found"
    assert tuple(map(int, m.groups())) == (
        len(entrymod.all_queries()),
        len(entrymod.queries()),
        len(entrymod.extra_queries()),
    )
