"""Every package module, and every top-level ``def`` and ``class`` in
it, has a caller outside the test suite.

Code that only tests reach is dead weight: it is kept in step by hand
and runs in no query, workload or entry point. These walk the syntax
trees (``ast``, no imports executed, no Spark) of the package,
``tools/``, ``perfbench/``, ``bench.py`` and ``__spark_entry__.py``.
One fails on any package module that none of them imports, other than
the module itself; the other on any top-level definition whose name
none of them mentions outside the definition's own body."""

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


#: Top-level definitions that only tests call, each with the reason.
#: Names the allowlisted definitions mention do not count as
#: references, so a helper only they use is listed too.
ALLOWED_DEFS = {
    "operators.dedup._minhash_sigs_hof": (
        "reference the Arrow MinHash signature builder is pinned against"
    ),
    "operators.dedup._shingle_sets": "used only by _minhash_sigs_hof",
    "functions.portable_hash.affine": (
        "used only by _minhash_sigs_hof and its test"
    ),
    "operators.multimodal._phash_sigs_explode_reference": (
        "reference the HOF perceptual-hash builder is pinned against"
    ),
    "operators.similarity.embedding_neardup_pairs_exact": (
        "exact O(n^2) oracle of the LSH-blocked near-dup query"
    ),
    "operators.similarity.neardup_pairs_exact": (
        "the frame-level form of embedding_neardup_pairs_exact"
    ),
    "operators.dedup.ngram_jaccard_pairs": (
        "all-pairs oracle of the top-K-bounded dedup_ngram_jaccard"
    ),
    "operators.dedup.containment_pairs": (
        "all-pairs oracle of dedup_containment"
    ),
    "operators.dedup._lrs_suffix_table_from": (
        "drives the suffix/LCP machinery with adversarial corpora"
    ),
    "operators.dedup._lrs_ext_from": (
        "drives the tied-rows extension with adversarial corpora"
    ),
    "sources.gsheets.transport.MockTransport": (
        "canned-response transport the client and writer tests run on"
    ),
}

_DEFINITION = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _mentions(node: ast.AST) -> set[str]:
    """Bare names ``node`` mentions: loads, attributes and imports."""
    names: set[str] = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            names.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            names.add(sub.attr)
        elif isinstance(sub, ast.alias):
            names.add(sub.name.split(".")[-1])
    return names


def test_every_package_definition_has_a_non_test_reference():
    definitions = {}  # "module.name" relative to the package -> node
    bodies = []  # (qualified name or None, mentions) per top-level node
    for root in IMPORTER_ROOTS:
        for path in _python_files(root):
            module = _module_name(path).removeprefix(f"{PACKAGE}.")
            for top in ast.parse(path.read_text(), str(path)).body:
                qual = None
                if root == PACKAGE and isinstance(top, _DEFINITION):
                    qual = f"{module}.{top.name}"
                    definitions[qual] = top
                bodies.append((qual, _mentions(top)))
    assert set(ALLOWED_DEFS) <= set(definitions), "allowlisted definition is gone"
    # Neither a definition's own body nor an allowlisted one references it.
    unreferenced = sorted(
        qual
        for qual, node in definitions.items()
        if not any(
            node.name in names
            for other, names in bodies
            if other != qual and other not in ALLOWED_DEFS
        )
    )
    assert unreferenced == sorted(ALLOWED_DEFS), (
        f"definitions only tests reach (delete them, or allowlist a "
        f"documented test reference with its reason): "
        f"{sorted(set(unreferenced) - set(ALLOWED_DEFS))}; allowlisted "
        f"but referenced: {sorted(set(ALLOWED_DEFS) - set(unreferenced))}"
    )
