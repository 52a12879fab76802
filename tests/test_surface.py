"""API-surface pins: ORC roundtrip, set operations, the grouped-agg
pandas UDF (UDAF) class, and a library with no definition that only
tests reach."""

import ast
import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_orc_roundtrip_is_exact(spark):
    from batch3dfier_spark.plans.queries import q_orc_roundtrip

    got = (q_orc_roundtrip(spark, SF).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    exp = (spark.read.parquet(f"{SF}/documents.parquet").toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(got, exp[got.columns])


def test_orc_scan_pushes_filters(spark):
    from batch3dfier_spark.plans.queries import q_orc_roundtrip

    df = q_orc_roundtrip(spark, SF).where(F.col("doc_id") == 7)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,7)]" in plan


def test_set_ops_partition_users(spark):
    from batch3dfier_spark.plans.queries import q_set_ops

    got = q_set_ops(spark, SF).toPandas()
    ev = spark.read.parquet(f"{SF}/events.parquet").toPandas()
    purch = set(ev[ev.event_type == "purchase"].user_id)
    err = set(ev[ev.event_type == "error"].user_id)
    both = set(got[got.tag == "both"].user_id)
    only = set(got[got.tag == "only_purchase"].user_id)
    assert both == purch & err
    assert only == purch - err
    assert both.isdisjoint(only)
    # distinct semantics: no duplicate (tag, user) rows
    assert not got.duplicated().any()


def test_grouped_agg_pandas_udaf_matches_builtin(spark):
    """The UDAF surface: a grouped-agg pandas UDF aggregates whole
    group series Arrow-side; its result must equal the JVM built-in
    for the same aggregate."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def mean_udaf(v: pd.Series) -> float:
        return float(v.mean())

    ev = spark.read.parquet(f"{SF}/events.parquet")
    got = (ev.groupBy("event_type")
           .agg(F.round(mean_udaf("value"), 6).alias("m"))
           .toPandas().set_index("event_type").sort_index())
    exp = (ev.groupBy("event_type")
           .agg(F.round(F.avg("value"), 6).alias("m"))
           .toPandas().set_index("event_type").sort_index())
    pd.testing.assert_frame_equal(got, exp)


# ---------------------------------------------------------------------------
# One caller or none.  A module-level function, class or UPPER_CASE
# constant in `batch3dfier_spark/` is dead when every reference to its
# name outside its own body comes from `tests/` or from another dead
# definition.
# Callers are the library itself, `perfbench/` (minus its tests),
# `tools/`, `bench.py`, `bench_extra.py` and `__spark_entry__.py`.  A
# reference is an identifier use (a name or an attribute) or a string
# constant that is an identifier, so registry keys and `getattr` names
# count.  Import lines and `__all__` entries are not references: a
# re-export or an unused import keeps nothing alive.  Resolution is by
# name, so a same-named local or method elsewhere keeps a definition
# alive: the scan can miss dead code but never reports live code.
# The methods of the classes in `_METHOD_CLASSES` are definitions of
# their own (the class body's references exclude the method bodies);
# dunder methods stay with their class, which calls them implicitly.
# ---------------------------------------------------------------------------

_ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
_LIBRARY = "batch3dfier_spark"
_CALLER_DIRS = (_LIBRARY, "perfbench", "tools")
_CALLER_FILES = ("bench.py", "bench_extra.py", "__spark_entry__.py")
_EXCLUDED_DIRS = (os.path.join("perfbench", "tests"),)
_METHOD_CLASSES = ("IcebergishTable",)
# live with no caller: vacuum is crash recovery, the safety code that
# the FileExistsError of a commit refused over an interrupted commit's
# pointer tells the operator to run
_EXEMPT = {"IcebergishTable.vacuum"}


def _caller_files():
    for d in _CALLER_DIRS:
        for dirpath, dirnames, filenames in os.walk(os.path.join(_ROOT, d)):
            rel = os.path.relpath(dirpath, _ROOT)
            dirnames[:] = [
                n for n in dirnames
                if os.path.join(rel, n) not in _EXCLUDED_DIRS
            ]
            for f in sorted(filenames):
                if f.endswith(".py"):
                    yield os.path.join(rel, f)
    for f in _CALLER_FILES:
        if os.path.exists(os.path.join(_ROOT, f)):
            yield f


def _references(node, skip):
    """Identifier names used under `node`, skipping the `skip` subtrees."""
    stack = [node]
    while stack:
        n = stack.pop()
        if n in skip or isinstance(n, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
        ):
            yield n.value
        stack.extend(ast.iter_child_nodes(n))


def _is_all(stmt):
    return isinstance(stmt, (ast.Assign, ast.AugAssign)) and any(
        isinstance(t, ast.Name) and t.id == "__all__"
        for t in (stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target])
    )


def _constant_name(stmt):
    """The name a module-level `NAME = ...` binds, if it is UPPER_CASE."""
    if isinstance(stmt, ast.Assign) and len(stmt.targets) == 1:
        target = stmt.targets[0]
    elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
        target = stmt.target
    else:
        return None
    if isinstance(target, ast.Name) and re.fullmatch(r"[A-Z][A-Z0-9_]*", target.id):
        return target.id
    return None


def _methods(stmt):
    """The non-dunder methods of a `_METHOD_CLASSES` class statement."""
    if not (isinstance(stmt, ast.ClassDef) and stmt.name in _METHOD_CLASSES):
        return []
    return [
        f for f in stmt.body
        if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not (f.name.startswith("__") and f.name.endswith("__"))
    ]


def dead_definitions():
    """Sorted `(path, line, name)` of library definitions no caller
    reaches; a method's name is `Class.method`."""
    # (path, qualified name) -> (line, name callers use, referenced
    # names in its body)
    defs = {}
    roots = set()  # names referenced from outside any library definition
    for path in _caller_files():
        with open(os.path.join(_ROOT, path)) as f:
            tree = ast.parse(f.read(), filename=path)
        in_library = path.startswith(_LIBRARY + os.sep)
        owned = set()
        for stmt in tree.body:
            if _is_all(stmt):
                owned.add(stmt)
            elif in_library and isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                owned.add(stmt)
                methods = _methods(stmt)
                defs[(path, stmt.name)] = (
                    stmt.lineno, stmt.name,
                    set(_references(stmt, set(methods))),
                )
                for f in methods:
                    defs[(path, f"{stmt.name}.{f.name}")] = (
                        f.lineno, f.name, set(_references(f, set())),
                    )
            elif in_library and _constant_name(stmt):
                owned.add(stmt)
                name = _constant_name(stmt)
                defs[(path, name)] = (
                    stmt.lineno, name, set(_references(stmt.value, set())),
                )
        roots.update(_references(tree, owned))

    live_names = set(roots)
    live = set()
    changed = True
    while changed:
        changed = False
        for key, (_, name, names) in defs.items():
            if key not in live and (name in live_names or key[1] in _EXEMPT):
                live.add(key)
                live_names |= names
                changed = True
    return sorted(
        (path, line, qualname)
        for (path, qualname), (line, _, _) in defs.items()
        if (path, qualname) not in live
    )


def test_every_library_definition_has_a_non_test_caller():
    dead = dead_definitions()
    assert not dead, "library definitions that only tests reach:\n" + "\n".join(
        f"{path}:{line} {name}" for path, line, name in dead
    )
