"""Every package module has a caller outside the test suite.

A module that only tests import is dead weight: it is kept in step by
hand and runs in no query, workload or entry point. This walks the
import statements (``ast``, no imports executed, no Spark) of the
package, ``tools/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py``, and fails on any package module that none of
them imports, other than the module itself."""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "duckdb_gsheets_spark"
IMPORTER_ROOTS = (
    PACKAGE, "tools", "perfbench", "bench.py", "__spark_entry__.py"
)

#: Modules that run without an importer, each with the reason.
ALLOWED = {
    f"{PACKAGE}.sources.gsheets.oauth_cli": (
        "command-line entry point, run as `python -m`"
    ),
}


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _imported_names(path: Path) -> set[str]:
    """Dotted names ``path`` imports: ``import a.b`` gives ``a.b``;
    ``from a import b`` gives ``a`` and ``a.b`` (``b`` may be a
    module); relative imports resolve against the file's package."""
    package = _module_name(path).split(".")
    if path.name != "__init__.py":
        package = package[:-1]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package[: len(package) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    return names


def _python_files(root: str) -> list[Path]:
    path = REPO / root
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def test_every_package_module_has_a_non_test_importer():
    importers = [p for root in IMPORTER_ROOTS for p in _python_files(root)]
    imports = {p: _imported_names(p) for p in importers}
    modules = {
        _module_name(p): p
        for p in _python_files(PACKAGE)
        if p.name != "__init__.py"
    }
    assert set(ALLOWED) <= set(modules), "allowlisted module is gone"
    unreached = [
        str(path.relative_to(REPO))
        for name, path in modules.items()
        if name not in ALLOWED
        and not any(name in imports[p] for p in imports if p != path)
    ]
    assert not unreached, (
        f"modules only tests import (delete them, or allowlist a real "
        f"entry point with its reason): {unreached}"
    )
