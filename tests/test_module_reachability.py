"""Every package module is reachable from a production entry point, and
every public package def is referenced.

Walks the ``import`` graph (module-level, function-local and relative
imports alike) from the driver contract, the CLI, the benches, perfbench
and tools; a package module no root reaches is dead code and fails here.
A public top-level def or class whose name no root and no package module
mentions fails too, unless it is a listed spec oracle.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "entity_extractor_by_pointer_spark"
ROOTS = [ROOT / "__spark_entry__.py", ROOT / PKG / "__main__.py", ROOT / "bench.py",
         ROOT / "bench_extra.py", *(ROOT / "perfbench").glob("*.py"),
         *(ROOT / "tools").glob("*.py")]


def _module_files(dotted: str) -> list[Path]:
    """The file of ``dotted`` plus every parent package ``__init__``."""
    parts, out = dotted.split("."), []
    for i in range(1, len(parts) + 1):
        base = ROOT.joinpath(*parts[:i])
        out += [p for p in (base / "__init__.py", base.with_suffix(".py")) if p.is_file()]
    return out


def _imported(path: Path) -> set[Path]:
    pkg = path.relative_to(ROOT).parts[:-1]  # the package relative imports resolve against
    found: set[Path] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = list(pkg[: len(pkg) - node.level + 1]) if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            names = [mod] + [f"{mod}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            found.update(_module_files(name))
    return found


def test_every_package_module_is_reachable_from_a_production_root():
    seen, todo = set(), list(ROOTS)
    while todo:
        path = todo.pop()
        if path not in seen:
            seen.add(path)
            todo.extend(_imported(path) - seen)
    modules = set((ROOT / PKG).rglob("*.py"))
    dead = sorted(str(p.relative_to(ROOT / PKG)) for p in modules - seen)
    assert not dead, f"package modules no production root imports: {dead}"


# public defs no production code calls that stay on purpose: the spec
# implementations tests compare production code against
SPEC_ORACLES = {
    "gazetteer_spans": "spec of the gazetteer matcher (test_properties.py)",
    "decode_gp": "spec of the fused GP decode (test_fused_decode.py)",
    "add_mask_tril": "reference GP-head masking (test_heads.py)",
    "apply_rope": "reference rotary embedding (test_heads.py)",
    "embedding_cosine_pairs": "brute-force oracle of embedding_cosine_pairs_blocked",
    "logistic_grad_local": "numpy oracle of logistic_grad_df (test_training.py)",
}


def test_every_public_package_def_is_referenced():
    """Every public top-level def or class of the package is referenced by
    name from a production root or the package, or is a listed spec oracle."""
    sources = [*ROOTS, *(ROOT / PKG).rglob("*.py")]
    defined, used = {}, set()
    for path in sources:
        tree = ast.parse(path.read_text())
        if path.is_relative_to(ROOT / PKG):
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.ClassDef)) and not node.name.startswith("_"):
                    defined[node.name] = path.relative_to(ROOT / PKG)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
    dead = sorted(f"{defined[n]}:{n}" for n in defined.keys() - used - SPEC_ORACLES.keys())
    assert not dead, f"public defs nothing references: {dead}"
    stale = sorted(SPEC_ORACLES.keys() - defined.keys())
    assert not stale, f"SPEC_ORACLES names no package def: {stale}"
