"""Reachability guard: no package function or class exists only for tests.

Every top-level, undecorated function or class in the package must be
referenced, outside its own body, from program code: the package,
``bench.py``, ``__spark_entry__.py``, ``tools/`` or ``perfbench/``
(not its tests). A reference is a name or attribute, an import alias,
or an identifier string (``getattr`` targets); docstrings do not count.
Decorated definitions are exempt: ``@register`` puts catalog queries on
the driver surface.

The scan matches bare names, so a same-named local elsewhere hides a
dead definition; ``ALLOWED`` therefore names every kept-but-unreferenced
definition explicitly, each with the COVERAGE row or reason that keeps it.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "utn_dataengineering_stockmarketpipeline_spark"

ALLOWED = {
    "sources/lake.py:write_markets": "COVERAGE K2 (reference markets lake append)",
    "sources/lake.py:read_lake": "COVERAGE S6 (lake scan with partition pruning)",
    "sources/lake.py:compact": "SURVEY §4.2 small-file compaction; the local "
                               "`compact` in bench.py shadows it in this scan",
    "operators/warehouse.py:show_preview": "COVERAGE K5 (console sink)",
    "operators/warehouse.py:truncate_table": "COVERAGE D2 (TRUNCATE TABLE)",
    "operators/warehouse.py:delete_schemas": "COVERAGE D3/D5 (DROP SCHEMA, reset)",
    "operators/warehouse.py:make_query": "COVERAGE D4 (generic SQL executor)",
    "sources/config.py:load_settings": "COVERAGE S5 (config/secret read)",
    "sources/config.py:redact": "COVERAGE S5/E3 (token redaction)",
    "sources/datasource.py:StockApiDataSource": "COVERAGE S1 executor fan-out "
                                                "(registered by callers)",
    "sources/snapshots.py:current_version": "release-layer accessor beside "
                                            "publish/read/rollback",
    "operators/similarity.py:_table_buckets": "reference bucketing that the "
                                              "similarity tests compare against",
    "functions/zorder.py:interleave_bits": "COVERAGE Z-order row (Morton key)",
    "functions/zorder.py:quantize": "COVERAGE Z-order row (curve quantization)",
}


def _program_files() -> list[Path]:
    perf = [p for p in sorted((REPO / "perfbench").rglob("*.py"))
            if "tests" not in p.relative_to(REPO).parts]
    return [
        *sorted(PKG.rglob("*.py")),
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
        *sorted((REPO / "tools").glob("*.py")),
        *perf,
    ]


def _references(tree: ast.Module):
    """Yield ``(name, line)`` for every name-like reference in ``tree``."""
    docs = {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                          ast.AsyncFunctionDef))
        and n.body and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            yield n.id, n.lineno
        elif isinstance(n, ast.Attribute):
            yield n.attr, n.lineno
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1], n.lineno
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier() and id(n) not in docs):
            yield n.value, n.lineno


def _definitions(trees: dict[Path, ast.Module]):
    for path in sorted(PKG.rglob("*.py")):
        for n in trees[path].body:
            if (isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef))
                    and not n.decorator_list):
                key = f"{path.relative_to(PKG).as_posix()}:{n.name}"
                yield key, path, n


def test_every_package_definition_has_a_program_caller():
    trees = {p: ast.parse(p.read_text(), str(p)) for p in _program_files()}
    refs: dict[str, list[tuple[Path, int]]] = {}
    for path, tree in trees.items():
        for name, line in _references(tree):
            refs.setdefault(name, []).append((path, line))

    defined, dead = set(), []
    for key, path, node in _definitions(trees):
        defined.add(key)
        if key in ALLOWED:
            continue
        outside = [
            (p, ln) for p, ln in refs.get(node.name, ())
            if not (p == path and node.lineno <= ln <= node.end_lineno)
        ]
        if not outside:
            dead.append(f"{key} (line {node.lineno})")

    assert not dead, (
        "package definitions with no program caller (delete them with "
        "their tests, or give them a caller): " + ", ".join(dead)
    )
    stale = sorted(set(ALLOWED) - defined)
    assert not stale, f"ALLOWED names definitions that no longer exist: {stale}"
