"""Registry invariants: the driver window, the extras and the oracle
table describe one set of queries, and the README's coverage numbers are
that set's sizes. No Spark session is needed: builders are only looked
up, never called."""

from __future__ import annotations

import ast
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


REPO = os.path.dirname(os.path.abspath(entrymod.__file__))


def _test_names() -> set[str]:
    names: set[str] = set()
    for fname in os.listdir(os.path.join(REPO, "tests")):
        if fname.endswith(".py"):
            src = open(os.path.join(REPO, "tests", fname), encoding="utf-8").read()
            names |= set(re.findall(r"^\s*def (test_\w+)", src, re.M))
    return names


def _top_level_names(path: str) -> set[str]:
    names: set[str] = set()
    for node in ast.parse(open(path, encoding="utf-8").read()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names |= {n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)}
    return names


def test_operators_doc_marks_name_real_queries_and_tests():
    """docs/OPERATORS.md marks registry queries `r:` and pytest tests `t:`.
    Window membership is stated only by __spark_entry__.WINDOW, so the doc
    carries no window labels; every marked name must exist. Every
    backticked `<pkg>/<mod>.<name>` reference into operators/, functions/,
    streaming/, sources/ or plans/ must be a top-level def or assignment
    in that package module."""
    doc = open(os.path.join(REPO, "docs", "OPERATORS.md"), encoding="utf-8").read()
    assert not re.findall(r"(?<!\w)[qx]:\w", doc), "window labels (q:/x:) are back"
    known = {"r": set(entrymod.all_queries()), "t": _test_names()}
    marks = re.findall(r"(?<!\w)([rt]):([\w*/]+)", doc)
    assert marks
    unknown = sorted({f"{kind}:{name}" for kind, name in marks if name not in known[kind]})
    assert not unknown, f"OPERATORS.md names nothing for: {unknown}"

    refs = [
        ref
        for span in re.findall(r"`([^`\n]+)`", doc)
        for ref in re.findall(
            r"(?<![\w/])((?:operators|functions|streaming|sources|plans)/\w+)\.(\w+)", span
        )
    ]
    assert len(refs) > 100
    assert {mod.split("/")[0] for mod, _ in refs} >= {"streaming", "sources", "plans"}
    pkg = os.path.join(REPO, "data_warehouse_punta_fina_spark")
    paths = {mod: os.path.join(pkg, f"{mod}.py") for mod, _ in refs}
    defined = {mod: _top_level_names(p) for mod, p in paths.items() if os.path.isfile(p)}
    # `<mod>.py` is a file reference; any other name must be defined in <mod>
    dangling = sorted(
        {
            f"{mod}.{name}"
            for mod, name in refs
            if mod not in defined or (name != "py" and name not in defined[mod])
        }
    )
    assert not dangling, f"OPERATORS.md names code that does not exist: {dangling}"


def test_slow_tier_names_real_tests():
    """Every name in conftest.SLOW_TESTS is a test under tests/; a renamed
    or deleted heavy test must not leave a stale name behind (the renamed
    test would silently run in the default gate)."""
    from conftest import SLOW_TESTS

    stale = sorted(SLOW_TESTS - _test_names())
    assert not stale, f"SLOW_TESTS names no test: {stale}"


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


# the per-operator durable-path options that materialize() replaced with
# the session's checkpoint directory
_DELETED_PATH_PARAMS = {
    "bands_path",
    "shingles_path",
    "tokens_path",
    "segments_path",
    "unit_path",
    "centroids_path",
    "codebook_path",
}


def test_materialize_is_the_only_checkpoint_site():
    """operators/materialize.py is the one place in the package that
    materializes a DataFrame: no other module calls ``.localCheckpoint(``
    or ``.checkpoint(``, ``materialize`` takes no path, and no operator
    takes a durable ``*_path`` option again (durability follows the
    session's checkpoint directory)."""
    pkg = os.path.join(REPO, "data_warehouse_punta_fina_spark")
    seam = os.path.join("operators", "materialize.py")
    calls, params, checked = [], [], 0
    for root, _dirs, files in os.walk(pkg):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            checked += 1
            rel = os.path.relpath(os.path.join(root, fname), pkg)
            tree = ast.parse(open(os.path.join(root, fname), encoding="utf-8").read())
            for node in ast.walk(tree):
                if (
                    rel != seam
                    and isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("localCheckpoint", "checkpoint")
                ):
                    calls.append(f"{rel}:{node.lineno}")
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and (
                    rel.startswith("operators" + os.sep)
                ):
                    a = node.args
                    names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                    if rel == seam and node.name == "materialize":
                        assert names == ["df", "eager"], names
                    params += [f"{rel}:{node.name}({n})" for n in names if n in _DELETED_PATH_PARAMS]
    assert checked > 50
    assert not calls, f"materialize outside operators/materialize.py: {calls}"
    assert not params, f"durable *_path options are back: {params}"


def test_star_plans_hold_no_cache():
    """The star build shares an intermediate only through ``materialize``:
    no module under ``plans/`` calls ``.cache(``, ``.persist(`` or
    ``.unpersist(``, so no plan hands its caller a cache to release.
    (``registry/star.py``'s session memo stays the package's only memo.)"""
    plans = os.path.join(REPO, "data_warehouse_punta_fina_spark", "plans")
    calls, checked = [], 0
    for fname in sorted(os.listdir(plans)):
        if not fname.endswith(".py"):
            continue
        checked += 1
        tree = ast.parse(open(os.path.join(plans, fname), encoding="utf-8").read())
        calls += [
            f"plans/{fname}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("cache", "persist", "unpersist")
        ]
    assert checked >= 5
    assert not calls, f"cache calls under plans/: {calls}"


def test_literal_table_is_the_only_create_dataframe_site():
    """sources/generators.py is the one module that builds an inline
    table: every other package module goes through ``literal_table``,
    whose Arrow-backed ``LocalRelation`` needs no job to build and no
    Python worker to read (a ``createDataFrame(<list>)`` is a
    ``PythonRDD`` scan read by forked Python workers)."""
    pkg = os.path.join(REPO, "data_warehouse_punta_fina_spark")
    seam = os.path.join("sources", "generators.py")
    calls, checked = [], 0
    for root, _dirs, files in os.walk(pkg):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            checked += 1
            rel = os.path.relpath(os.path.join(root, fname), pkg)
            tree = ast.parse(open(os.path.join(root, fname), encoding="utf-8").read())
            calls += [
                f"{rel}:{node.lineno}"
                for node in ast.walk(tree)
                if rel != seam
                and isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ]
    assert checked > 50
    assert not calls, f"createDataFrame outside sources/generators.py: {calls}"


def test_drain_is_the_only_write_stream_site():
    """streaming/file_stream.py is the one module that starts a streaming
    query: no other package module touches ``.writeStream``, ``drain``
    takes exactly (stream, checkpoint_dir, process), and no per-operator
    ``run_*_stream`` runner or ``available_now`` switch comes back (a
    streaming operator is a per-batch function handed to ``drain``)."""
    pkg = os.path.join(REPO, "data_warehouse_punta_fina_spark")
    seam = os.path.join("streaming", "file_stream.py")
    sites, runners, checked = [], [], 0
    for root, _dirs, files in os.walk(pkg):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            checked += 1
            rel = os.path.relpath(os.path.join(root, fname), pkg)
            tree = ast.parse(open(os.path.join(root, fname), encoding="utf-8").read())
            for node in ast.walk(tree):
                if rel != seam and isinstance(node, ast.Attribute) and node.attr == "writeStream":
                    sites.append(f"{rel}:{node.lineno}")
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    a = node.args
                    names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                    if rel == seam and node.name == "drain":
                        assert names == ["stream", "checkpoint_dir", "process"], names
                    if re.fullmatch(r"run_\w+_stream", node.name):
                        runners.append(f"{rel}:{node.name}")
                    if "available_now" in names:
                        runners.append(f"{rel}:{node.name}(available_now)")
    assert checked > 50
    assert not sites, f".writeStream outside streaming/file_stream.py: {sites}"
    assert not runners, f"per-operator stream runners are back: {runners}"


def test_readers_is_the_only_parquet_open_site():
    """sources/readers.py is the one module that opens a parquet table: no
    other package module calls ``.read.parquet(`` or ``footer_schema``,
    or imports ``AnalysisException`` to probe whether a table exists
    (``data_entries`` answers that); ``read_parquet`` takes no schema and
    ``read_epoch`` is gone. ``sources/txlog.py``'s
    ``read.schema(<log schema>).parquet(<files>)`` is not that chain: it
    reads the explicit files its own log lists, under the schema the log
    stores."""
    pkg = os.path.join(REPO, "data_warehouse_punta_fina_spark")
    seam = os.path.join("sources", "readers.py")
    sites, checked = [], 0
    for root, _dirs, files in os.walk(pkg):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            checked += 1
            rel = os.path.relpath(os.path.join(root, fname), pkg)
            tree = ast.parse(open(os.path.join(root, fname), encoding="utf-8").read())
            for node in ast.walk(tree):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    a = node.args
                    names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                    if rel == seam and node.name == "read_parquet":
                        assert names == ["spark", "path"], names
                    if node.name == "read_epoch":
                        sites.append(f"{rel}:{node.lineno}:read_epoch")
                if rel == seam:
                    continue
                if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                    f = node.func
                    if f.attr == "parquet" and isinstance(f.value, ast.Attribute) and f.value.attr == "read":
                        sites.append(f"{rel}:{node.lineno}:.read.parquet(")
                if isinstance(node, ast.Call):
                    callee = getattr(node.func, "attr", getattr(node.func, "id", None))
                    if callee == "footer_schema":
                        sites.append(f"{rel}:{node.lineno}:footer_schema")
                if isinstance(node, (ast.Import, ast.ImportFrom)) and any(
                    alias.name.split(".")[-1] == "AnalysisException" for alias in node.names
                ):
                    sites.append(f"{rel}:{node.lineno}:AnalysisException")
    assert checked > 50
    assert not sites, f"parquet opened or probed outside sources/readers.py: {sites}"


def test_freshness_is_the_only_parameter_metadata_site():
    """operators/freshness.py is the one module that knows how a
    persisted index or model records its build parameters: no other
    module reads ``.metadata`` off a schema field or passes ``metadata=``
    to a call, and no function takes a ``validate_index``/
    ``validate_model`` switch, nor ``bm25_search_index`` an ``n_buckets``
    override, that would let a reader skip the check."""
    pkg = os.path.join(REPO, "data_warehouse_punta_fina_spark")
    seam = os.path.join("operators", "freshness.py")
    sites, params, checked = [], [], 0
    for root, _dirs, files in os.walk(pkg):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            checked += 1
            rel = os.path.relpath(os.path.join(root, fname), pkg)
            tree = ast.parse(open(os.path.join(root, fname), encoding="utf-8").read())
            for node in ast.walk(tree):
                if rel != seam and (
                    (
                        isinstance(node, ast.Attribute)
                        and node.attr == "metadata"
                        and isinstance(node.value, ast.Subscript)
                    )
                    or (
                        isinstance(node, ast.Call)
                        and any(kw.arg == "metadata" for kw in node.keywords)
                    )
                ):
                    sites.append(f"{rel}:{node.lineno}")
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    a = node.args
                    names = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
                    opt_outs = names & {"validate_index", "validate_model"}
                    if node.name == "bm25_search_index" and "n_buckets" in names:
                        opt_outs.add("n_buckets")
                    params += [f"{rel}:{node.name}({n})" for n in sorted(opt_outs)]
    assert checked > 50
    assert not sites, f"column metadata handled outside operators/freshness.py: {sites}"
    assert not params, f"parameter-check opt-outs are back: {params}"


def test_freshness_is_the_only_content_fingerprint_site():
    """operators/freshness.py is the one module that knows how a corpus
    fingerprint is stored and compared: no other module names a
    fingerprint column (``"fp_n"``, ``"fp_xor"``, ``"fp_sum"``) or
    constructs ``StaleIndexError``, and no ``*_refresh_index`` function
    exists (a stale index is rebuilt with its ``*_build_index``)."""
    pkg = os.path.join(REPO, "data_warehouse_punta_fina_spark")
    seam = os.path.join("operators", "freshness.py")
    columns = {"fp_n", "fp_xor", "fp_sum"}
    sites, refresh, checked = set(), [], 0
    for root, _dirs, files in os.walk(pkg):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            checked += 1
            rel = os.path.relpath(os.path.join(root, fname), pkg)
            tree = ast.parse(open(os.path.join(root, fname), encoding="utf-8").read())
            for node in ast.walk(tree):
                if rel != seam and (
                    (isinstance(node, ast.Constant) and node.value in columns)
                    or (
                        isinstance(node, ast.Call)
                        and getattr(node.func, "id", getattr(node.func, "attr", None))
                        == "StaleIndexError"
                    )
                ):
                    sites.add(rel)
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef)
                ) and node.name.endswith("_refresh_index"):
                    refresh.append(f"{rel}:{node.name}")
    assert checked > 50
    assert not sites, f"content fingerprint handled outside operators/freshness.py: {sorted(sites)}"
    assert not refresh, f"refresh functions are back: {refresh}"


# Top-level package defs that only tests reach: no registry query,
# __spark_entry__.py, bench.py, tools/ or perfbench/ calls them. One comment
# per group says why the group stays.
_REACHED_ONLY_FROM_TESTS = {
    # the paper's ETL surface: the reference's batch processor, extract/load
    # (files, JDBC conform-and-load), DQ checks and resumable chunk loop
    "batch.BatchReport",
    "batch._run_with_job_timeout",
    "batch.process_dataframe",
    "operators/quality._row",
    "operators/quality.check_double_entry",
    "operators/quality.check_fk_orphans",
    "operators/quality.check_grain_unique",
    "sources/conform.conform_column_mapping",
    "sources/conform.conform_to_table",
    "sources/conform.jdbc_table_schema",
    "sources/conform.load_conformed_jdbc",
    "sources/readers.read_csv",
    "sources/readers.read_csv_tolerant",
    "sources/readers.read_jdbc",
    "sources/readers.read_jsonl",
    "sources/readers.read_jsonl_tolerant",
    "sources/readers.read_orc",
    "sources/writers.compact_parquet",
    "sources/writers.idempotent_append_jdbc",
    "sources/writers.write_bucketed",
    "sources/writers.write_clustered",
    "sources/writers.write_csv",
    "sources/writers.write_excel",
    "sources/writers.write_excel_workbook",
    "sources/writers.write_jdbc",
    "sources/writers.write_jsonl",
    "sources/writers.write_orc",
    "streaming/file_stream.run_available_now",
    "streaming/observer.ProgressLedger",
    # the reference's scalar helpers and join/pivot shapes (docs/OPERATORS.md)
    "functions/dates.period_key",
    "functions/money.extract_iva",
    "functions/money.money",
    "functions/strings.truthy_bool",
    "operators/pivots.pivot_sum",
    "operators/sk_lookup.scalar_lookup",
    # reference implementations that tests check the query operators against
    "functions/text.word_shingles",
    "operators/classify.nb_classify",
    "operators/retrieval._decode_positions",
    "operators/windows.partitioned_sequential_id",
    # TxTable and what only it calls (docs/MIGRATION.md §4)
    "operators/quality.schema_diff",
    "operators/scd.type1_upsert",
    "sources/txlog.CommitConflict",
    "sources/txlog.TxTable",
    "sources/writers.write_zordered",
    "sources/writers.zorder_key",
    # the stream twins: per-batch functions whose stream-equals-batch tests
    # drive them through drain
    "streaming/ann_stream.ann_stream_batch",
    "streaming/bm25_stream.bm25_stream_batch",
    "streaming/classify_stream.classify_stream_batch",
    "streaming/dedup_stream._read_or_empty",
    "streaming/dedup_stream.dedup_ingest_batch",
    # persisted-index calls past the queries: freshness predicates, positional
    # append, retirement (streaming/epochs.py checks its tombstone)
    "operators/index_admin._newest_mtime_ms",
    "operators/index_admin._validate_supersedes",
    "operators/index_admin.retire_index_dir",
    "operators/retrieval.bm25_index_is_fresh",
    "operators/retrieval.positional_append_index",
    "operators/retrieval.positional_index_is_fresh",
    "operators/similarity.ivfpq_index_is_fresh",
}


def test_package_defs_reached_outside_tests():
    """Name-level reachability from the code that runs outside tests: every
    def in registry/, __spark_entry__.py, bench.py, tools/, perfbench/, and
    the import-time statements of every package module. A referenced name
    (a bare name or an attribute) reaches every top-level package def of that
    name, and that def's body is followed in turn. The defs left over are
    reached only from tests and must be exactly _REACHED_ONLY_FROM_TESTS:
    new test-only code fails here, and so does a listed def that is now
    reached (take it off the list)."""
    pkg = os.path.join(REPO, "data_warehouse_punta_fina_spark")

    def py_files(top):
        for root, _dirs, files in os.walk(top):
            yield from (os.path.join(root, f) for f in sorted(files) if f.endswith(".py"))

    def referenced(node):
        return {
            n.id if isinstance(n, ast.Name) else n.attr
            for n in ast.walk(node)
            if isinstance(n, (ast.Name, ast.Attribute))
        }

    outside = [os.path.join(REPO, "__spark_entry__.py"), os.path.join(REPO, "bench.py")]
    outside += [*py_files(os.path.join(REPO, "tools")), *py_files(os.path.join(REPO, "perfbench"))]
    trees = {path: ast.parse(open(path, encoding="utf-8").read()) for path in outside}
    trees.update({path: ast.parse(open(path, encoding="utf-8").read()) for path in py_files(pkg)})
    renamed = {}  # `import x as y` anywhere: a reference to y reaches x
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.alias) and node.asname:
                renamed.setdefault(node.asname, set()).add(node.name.split(".")[-1])
    roots = set().union(*(referenced(trees[path]) for path in outside))
    defs = {}
    for path in py_files(pkg):
        mod = os.path.relpath(path, pkg)[: -len(".py")].replace(os.sep, "/")
        for node in trees[path].body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append((mod, node))
                if mod.startswith("registry/"):
                    roots |= referenced(node) | {node.name}
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots |= referenced(node)

    reached, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo += renamed.get(name, ())
            todo += [ref for _mod, node in defs.get(name, ()) for ref in referenced(node)]
    unreached = {
        f"{mod}.{name}" for name, found in defs.items() if name not in reached for mod, _ in found
    }
    assert len(defs) > 500
    assert not unreached - _REACHED_ONLY_FROM_TESTS, (
        f"package defs only tests reach: {sorted(unreached - _REACHED_ONLY_FROM_TESTS)}"
    )
    assert not _REACHED_ONLY_FROM_TESTS - unreached, (
        f"listed defs that are reached or gone: {sorted(_REACHED_ONLY_FROM_TESTS - unreached)}"
    )
