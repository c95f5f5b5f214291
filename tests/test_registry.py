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


def test_operators_doc_marks_name_real_queries_and_tests():
    """docs/OPERATORS.md marks registry queries `r:` and pytest tests `t:`.
    Window membership is stated only by __spark_entry__.WINDOW, so the doc
    carries no window labels; every marked name must exist."""
    repo = os.path.dirname(os.path.abspath(entrymod.__file__))
    doc = open(os.path.join(repo, "docs", "OPERATORS.md"), encoding="utf-8").read()
    assert not re.findall(r"(?<!\w)[qx]:\w", doc), "window labels (q:/x:) are back"
    tests: set[str] = set()
    for fname in os.listdir(os.path.join(repo, "tests")):
        if fname.endswith(".py"):
            src = open(os.path.join(repo, "tests", fname), encoding="utf-8").read()
            tests |= set(re.findall(r"^\s*def (test_\w+)", src, re.M))
    known = {"r": set(entrymod.all_queries()), "t": tests}
    marks = re.findall(r"(?<!\w)([rt]):([\w*/]+)", doc)
    assert marks
    unknown = sorted({f"{kind}:{name}" for kind, name in marks if name not in known[kind]})
    assert not unknown, f"OPERATORS.md names nothing for: {unknown}"


def test_registry_modules_reference_only_bound_globals():
    """Static guard for the registry package: every global name a module
    references (at module level or inside any function) is bound in that
    module or is a builtin. A builder whose import went missing would
    otherwise fail only when someone calls it."""
    import builtins
    import symtable

    pkg = os.path.join(
        os.path.dirname(os.path.abspath(entrymod.__file__)), "data_warehouse_punta_fina_spark", "registry"
    )
    unresolved, checked = [], 0
    for fname in sorted(os.listdir(pkg)):
        if not fname.endswith(".py"):
            continue
        checked += 1
        path = os.path.join(pkg, fname)
        top = symtable.symtable(open(path, encoding="utf-8").read(), path, "exec")
        bound = {s.get_name() for s in top.get_symbols() if s.is_assigned() or s.is_imported()}
        known = bound | set(dir(builtins)) | {"__file__", "__name__"}

        def walk(table, fname=fname, known=known):
            for s in table.get_symbols():
                is_global = table.get_type() == "module" or s.is_global()
                if s.is_referenced() and is_global and s.get_name() not in known:
                    unresolved.append(f"{fname}:{table.get_name()}:{s.get_name()}")
            for child in table.get_children():
                walk(child)

        walk(top)
    assert checked > 10
    assert not unresolved, f"unresolved globals: {unresolved}"
