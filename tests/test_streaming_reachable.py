"""Every ``streaming/`` module runs outside the tests, or says why it stays.

The import graph is read from the source with ``ast``: only ``import`` and
``from ... import`` nodes are edges (a module named in a docstring or a
comment is not imported). The roots are the spark-submit jobs, the driver
entry point, the benchmark's non-test modules and every package module
outside ``streaming/``. A streaming module that is reached only from tests,
or only from other unreached modules, fails the test unless it is on one
of the two allowlists below with its reason.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "bistro_spark"
STREAMING = PKG / "streaming"

# North-rule semantics that the stream job does not drive yet.
ALLOWED = {
    "cep": "the north rule's complex event processing (pattern matching)",
    "lateness": "the north rule's watermarks: late-row accounting",
    "join": "the north rule's stateful stream-stream join",
    "project": "Bistro's project column (ColumnDefinitionProj) over a stream",
}

# Test-only twins whose deletion is still open (ROADMAP direction F). This
# list only shrinks: a module leaves it when it is deleted or wired in.
PENDING = dict.fromkeys(
    [
        "bm25", "cdc", "cube", "curriculum", "decontam", "drift", "dsir",
        "funnel", "heavy", "mixture", "pack", "pq", "quantiles", "select",
        "skew", "truncation", "web",
    ],
    "test-only twin of a batch operator, to be deleted",
)


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in PKG.rglob("*.py")}


def _imports(path: Path, modules: dict[str, Path]) -> set[str]:
    """Package modules that ``path`` imports, parents included."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    targets: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")
                anchor = anchor[: len(anchor) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            targets.add(base)
            targets.update(f"{base}.{a.name}" for a in node.names)
    found = set()
    for target in targets:
        parts = target.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in modules:
                found.add(prefix)
    return found


def _unreached() -> list[str]:
    modules = _package_modules()
    roots = [REPO / "__spark_entry__.py"]
    roots += sorted((REPO / "perfbench").glob("*.py"))
    roots += [p for p in modules.values() if STREAMING not in p.parents]
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        for target in _imports(todo.pop(), modules):
            if target not in seen:
                seen.add(target)
                todo.append(modules[target])
    return sorted(
        p.stem for p in STREAMING.glob("*.py")
        if p.stem != "__init__" and _module_name(p) not in seen
    )


def test_every_streaming_module_is_reached_or_allowed():
    unreached = _unreached()
    refused = [m for m in unreached if m not in ALLOWED | PENDING]
    named = [m if m in refused else f"{m} (allowed)" for m in unreached]
    assert not refused, (
        f"{len(unreached)} streaming modules are imported only by tests or "
        f"by each other, {len(refused)} of them not allowed: "
        f"{', '.join(named)}"
    )


def test_allowlist_names_only_modules_that_exist_and_are_unreached():
    unreached = set(_unreached())
    listed = set(ALLOWED) | set(PENDING)
    assert listed <= unreached, sorted(listed - unreached)
