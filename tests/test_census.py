"""Census: every module-level package name is reached from code that runs.

The roots are the ``.py`` files outside ``tests/`` and outside the
package (``tools/``, ``perfbench/``, ``bench.py``, ``__spark_entry__.py``),
the package's import-time statements, and the ``KEEP`` allowlist below.
A name is reached when a reached body
mentions it as a Name, an Attribute, an imported alias, or an
identifier-shaped string constant; reachability is transitive through
the bodies of reached package names. Module-level imports inside the
package (re-exports from an ``__init__``) and ``__all__`` are
declarations, not uses, and docstrings are not identifier-shaped, so
neither keeps a name alive.

A name that only a test reaches fails this census: delete it with its
test, or, if it is a capability worth keeping, add it to ``KEEP`` with
a one-line reason.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "cdk_dynamodb_cdc_spark"

# Entry points that no workload calls today but that stay on purpose.
# Keys are "<module path>:<name>" or a whole "<module path>".
KEEP = {
    "sources/cdc_shards.py": "A1's seekable shard lane, and direction C's candidate",
    "sources/fixtures.py": "hand-built CDC fixtures the record-path tests share",
    "storage/txlog.py:txlog_sink_writer": "A11's transactional sink; the soak composes it",
    "storage/txlog.py:read_txlog_feed": "A11's change feed; the soak composes it",
    "storage/txlog.py:version_diff": "A11's row-level diff between two table versions",
    "storage/txlog.py:cleanup_log": "A11's log retention",
    "storage/txlog.py:update_where": "A11's update through a deletion vector",
    "streaming/stream.py:maintain_snapshot_stream": "the soak composes it",
    "operators/ivm.py:maintain_aggregate_stream": "the soak composes it",
    "operators/claim_check.py:vacuum_side_store": "A13's 24 h side-store lifecycle",
    "operators/claim_check.py:validate_claim_url": "A10's claim-check URL contract",
    "schemas.py:CHANGE_EVENT_SCHEMA": "the published event's output contract",
    "llm/dedup.py:connected_components": "the reference the star algorithm is tested against",
    "functions/diff.py:diff_json_strings": "the diff's string-level entry point",
    "functions/dynamo.py:unmarshall_json": "the codec's string-level entry point",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _mentions(nodes) -> set[str]:
    """Identifiers a list of AST nodes mentions."""
    out: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name.rsplit(".", 1)[-1])
                if node.asname:
                    out.add(node.asname)
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if _IDENT.match(node.value):
                    out.add(node.value)
    return out


def _targets(stmt) -> list[str]:
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    names = []
    for t in targets:
        for node in ast.walk(t):
            if isinstance(node, ast.Name):
                names.append(node.id)
            elif not isinstance(node, (ast.Tuple, ast.List, ast.Store,
                                       ast.Starred)):
                return []  # a subscript/attribute store is a statement
    return names


def census():
    """(definitions, roots): definitions maps "<module>:<name>" to the
    identifiers its body mentions; roots is the set of identifiers the
    code outside the package and the package's import-time statements
    mention."""
    defs: dict[str, set[str]] = {}
    roots: set[str] = set()
    paths = [*ROOT.glob("*.py")] + [
        p for d in (PACKAGE, "tools", "perfbench")
        for p in (ROOT / d).rglob("*.py")
    ]
    for path in sorted(paths):
        rel = path.relative_to(ROOT)
        tree = ast.parse(path.read_text(), filename=str(rel))
        if rel.parts[0] != PACKAGE:
            roots |= _mentions([tree])
            continue
        module = "/".join(rel.parts[1:])
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                if _is_dunder(stmt.name):
                    roots |= _mentions([stmt])
                    continue
                # A decorator runs at import; a registering decorator
                # (``@query``) keeps its function reachable through the
                # registry it fills.
                if stmt.decorator_list:
                    roots |= _mentions(stmt.decorator_list)
                    roots.add(stmt.name)
                defs[f"{module}:{stmt.name}"] = _mentions([stmt])
                continue
            names = _targets(stmt)
            if names:
                if names == ["__all__"]:
                    continue
                body = _mentions([stmt.value] if stmt.value else [])
                for name in names:
                    if _is_dunder(name):
                        roots |= body
                    else:
                        defs[f"{module}:{name}"] = body
                continue
            roots |= _mentions([stmt])  # any other import-time statement
    return defs, roots


def unreached(keep=KEEP):
    defs, roots = census()
    by_name: dict[str, list[str]] = {}
    for key in defs:
        by_name.setdefault(key.split(":", 1)[1], []).append(key)
    reached: set[str] = set()
    frontier = set(roots)
    for key in defs:
        module = key.split(":", 1)[0]
        if key in keep or module in keep:
            frontier.add(key.split(":", 1)[1])
    while frontier:
        name = frontier.pop()
        for key in by_name.get(name, ()):
            if key not in reached:
                reached.add(key)
                frontier |= defs[key] - {name}
    return sorted(set(defs) - reached), defs


def test_every_package_name_is_reached_outside_tests():
    dead, _ = unreached()
    assert dead == [], (
        "package names only tests reach (delete them, or add them to "
        f"KEEP with a reason): {dead}"
    )


def test_keep_list_names_exist_and_give_a_reason():
    _, defs = unreached()
    modules = {key.split(":", 1)[0] for key in defs}
    for entry, reason in KEEP.items():
        assert entry in defs or entry in modules, f"stale KEEP entry {entry}"
        assert reason.strip() and "\n" not in reason, entry
