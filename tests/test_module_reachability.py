"""Every package module is reachable from a production entry point, and
every public package def and method is referenced.

Walks the ``import`` graph (module-level, function-local and relative
imports alike) from the driver contract, the CLI, the benches, perfbench
and tools; a package module no root reaches is dead code and fails here.
A public top-level def or class, or a public method of a top-level class,
whose name no root and no package module mentions fails too, unless it is
a listed spec oracle. ``mod.name`` where ``mod`` is an imported module
alias refers to that module only: ``json.load`` keeps no package ``load``
alive. A defaulted parameter of such a def, method or constructor that no
production or package call passes fails as well: a value nothing varies is
a constant.
"""

import ast
import functools
import importlib.util
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


def _from_module(node: ast.ImportFrom, path: Path) -> str:
    """The dotted module a ``from`` import in ``path`` names."""
    pkg = path.relative_to(ROOT).parts[:-1]  # the package relative imports resolve against
    base = list(pkg[: len(pkg) - node.level + 1]) if node.level else []
    return ".".join(base + ([node.module] if node.module else []))


def _imported(path: Path) -> set[Path]:
    found: set[Path] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            mod = _from_module(node, path)
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


def _import_names(node: ast.AST, path: Path) -> list[tuple[str, str]]:
    """(bound name, dotted target) per name an import statement binds; a
    ``from`` target is ``module.name``, which may be a module or a def."""
    if isinstance(node, ast.Import):
        return [(a.asname or a.name.split(".")[0], a.name if a.asname else a.name.split(".")[0])
                for a in node.names]
    if isinstance(node, ast.ImportFrom):
        mod = _from_module(node, path)
        return [(a.asname or a.name, f"{mod}.{a.name}" if mod else a.name) for a in node.names]
    return []


def _module_file(dotted: str) -> Path | None:
    """The file of ``dotted`` if it names a module, found on disk without
    importing it; None if it names no module (a def, or nothing found)."""
    top, *rest = dotted.split(".")
    if top == PKG:
        base = ROOT.joinpath(*dotted.split("."))
        return next((p for p in (base / "__init__.py", base.with_suffix(".py")) if p.is_file()), None)
    spec = importlib.util.find_spec(top)  # a top-level lookup imports nothing
    if spec is None:
        return None
    if not rest:
        return Path(spec.origin or top)  # built-in and namespace modules have no file
    for loc in spec.submodule_search_locations or []:
        base = Path(loc).joinpath(*rest)
        for p in (base / "__init__.py", base.with_suffix(".py")):
            if p.is_file():
                return p
    return None


# public defs no production code calls that stay on purpose: the spec
# implementations tests compare production code against
SPEC_ORACLES = {
    "gazetteer_spans": "spec of the gazetteer matcher (test_properties.py)",
    "decode_gp": "spec of the fused GP decode (test_fused_decode.py)",
    "GlobalPointerHead.raw_scores": "full GP score tensor the fused decode is pinned against",
    "add_mask_tril": "reference GP-head masking (test_heads.py)",
    "apply_rope": "reference rotary embedding (test_heads.py)",
    "embedding_cosine_pairs": "brute-force oracle of embedding_cosine_pairs_blocked",
    "logistic_grad_local": "numpy oracle of logistic_grad_df (test_training.py)",
}


def test_every_public_package_def_is_referenced():
    """Every public top-level def or class of the package, and every public
    method of a top-level class, is referenced from a production root or the
    package, or is a listed spec oracle. A bare name or an attribute on any
    receiver but a module alias counts for every def of that name; an
    attribute on a module alias counts for that module's def only."""
    sources = [*ROOTS, *(ROOT / PKG).rglob("*.py")]
    defs = []  # (file, qualified name, top-level name or None for a method)
    names, qualified = set(), set()  # bare uses; (module file, name) uses
    for path in sources:
        tree = ast.parse(path.read_text())
        if path.is_relative_to(ROOT / PKG):
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.ClassDef)) and not node.name.startswith("_"):
                    defs.append((path, node.name, node.name))
                if isinstance(node, ast.ClassDef):
                    defs += [(path, f"{node.name}.{m.name}", None) for m in node.body
                             if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))
                             and not m.name.startswith("_")]
        aliases = {}
        for node in ast.walk(tree):
            for bound, target in _import_names(node, path):
                if (mod := _module_file(target)) is not None:
                    aliases[bound] = mod
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                if isinstance(node.value, ast.Name) and node.value.id in aliases:
                    qualified.add((aliases[node.value.id], node.attr))
                else:
                    names.add(node.attr)
    top = {(p, n) for p, _q, n in defs if n}
    # a package module's qualified use of a name it does not define is a
    # re-export: count it by name
    names |= {n for p, n in qualified if p.is_relative_to(ROOT / PKG) and (p, n) not in top}
    dead = sorted(
        f"{p.relative_to(ROOT / PKG)}: {q}"
        for p, q, n in defs
        if q.rpartition(".")[2] not in names
        and (p, n) not in qualified
        and (n or q) not in SPEC_ORACLES
    )
    assert not dead, f"public defs nothing references: {dead}"
    stale = sorted(SPEC_ORACLES.keys() - {n or q for _p, q, n in defs})
    assert not stale, f"SPEC_ORACLES names no package def: {stale}"



# defaulted parameters no production root sets that stay on purpose: the
# switch to the production tokenizer/encoder pair, which only an environment
# with torch selects
UNSET_PARAMETERS = {
    "NerConfig.encoder": "selects the torch BERT pair (test_production_encoder.py passes 'bert')",
}


def _decorators(node: ast.FunctionDef | ast.ClassDef) -> set[str]:
    out = set()
    for d in node.decorator_list:
        d = d.func if isinstance(d, ast.Call) else d
        out.add(d.id if isinstance(d, ast.Name) else getattr(d, "attr", ""))
    return out


def _defaulted(fn: ast.FunctionDef, skip_first: bool) -> list[tuple[str, int | None, ast.expr]]:
    """(name, position or None if keyword-only, default) of each defaulted
    parameter."""
    positional = [*fn.args.posonlyargs, *fn.args.args][int(skip_first):]
    first = len(positional) - len(fn.args.defaults)
    return [(a.arg, i, fn.args.defaults[i - first]) for i, a in enumerate(positional) if i >= first] + [
        (a.arg, None, d) for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults) if d is not None]


def _parameters(path: Path) -> list[tuple[str, str, str, int | None, ast.expr]]:
    """(label, called name, parameter, position, default) of every defaulted parameter
    of a public top-level def, a public method or ``__init__`` of a top-level
    class, and every defaulted ``@dataclass`` field (a constructor parameter
    in declaration order). A def's label is its name, a method's
    ``Class.method``, a constructor's the class name."""
    out = []
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
            out += [(node.name, node.name, *d) for d in _defaulted(node, False)]
        if not isinstance(node, ast.ClassDef) or node.name.startswith("_"):
            continue
        for m in node.body:
            if isinstance(m, ast.FunctionDef) and (m.name == "__init__" or not m.name.startswith("_")):
                init = m.name == "__init__"
                label, called = (node.name, node.name) if init else (f"{node.name}.{m.name}", m.name)
                skip = "staticmethod" not in _decorators(m)
                out += [(label, called, *d) for d in _defaulted(m, skip)]
        if "dataclass" in _decorators(node):
            fields = [f for f in node.body if isinstance(f, ast.AnnAssign)
                      and isinstance(f.target, ast.Name) and "ClassVar" not in ast.unparse(f.annotation)]
            out += [(node.name, node.name, f.target.id, i, f.value) for i, f in enumerate(fields) if f.value]
    return out


def _aliases(tree: ast.AST, path: Path) -> dict[str, Path]:
    """Bound name -> module file of every import in ``tree`` that binds a module."""
    out = {}
    for node in ast.walk(tree):
        for bound, target in _import_names(node, path):
            if (mod := _module_file(target)) is not None:
                out[bound] = mod
    return out


def _production_calls() -> dict[str, list[tuple[Path | None, ast.Call, Path]]]:
    """Called name -> (module file the call binds, or None if it binds by
    name; the call; the calling file) of every call in a production root or
    a package module. A call on a module alias binds that module's def only."""
    pkg_files = list((ROOT / PKG).rglob("*.py"))
    defined = {(path, node.name) for path in pkg_files for node in ast.parse(path.read_text()).body
               if isinstance(node, (ast.FunctionDef, ast.ClassDef))}
    calls: dict[str, list] = {}
    for path in [*ROOTS, *pkg_files]:
        tree = ast.parse(path.read_text())
        aliases = _aliases(tree, path)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            func, module = node.func, None
            if isinstance(func, ast.Name):
                name = func.id
            elif isinstance(func, ast.Attribute):
                name = func.attr
                if isinstance(func.value, ast.Name) and (aliases.get(func.value.id), name) in defined:
                    module = aliases[func.value.id]
            else:
                continue
            calls.setdefault(name, []).append((module, node, path))
    return calls


def _checked_parameters():
    """(module file, label, called name, parameter, position, default) of
    every defaulted public parameter the guards check: spec oracles and
    ``UNSET_PARAMETERS`` are left out."""
    return [(path, *p) for path in (ROOT / PKG).rglob("*.py") for p in _parameters(path)
            if p[0].partition(".")[0] not in SPEC_ORACLES and f"{p[0]}.{p[2]}" not in UNSET_PARAMETERS]


def _argument(call: ast.Call, param: str, pos: int | None) -> ast.expr | None:
    """The expression ``call`` passes for ``param``; None if it omits it.
    A call with ``*args`` or ``**kwargs`` passes it as ``call`` itself."""
    if any(isinstance(a, ast.Starred) for a in call.args) or any(k.arg is None for k in call.keywords):
        return call
    for k in call.keywords:
        if k.arg == param:
            return k.value
    return call.args[pos] if pos is not None and pos < len(call.args) else None


def test_every_public_parameter_is_set():
    """Every defaulted parameter of a public package def, method or
    constructor is passed, by keyword or by position, by some call in a
    production root or the package; a value only tests vary is a module
    constant (ROADMAP aim 2). Calls resolve by name as in the def check: a
    call on a module alias binds that module's def only. A call with
    ``*args`` or ``**kwargs`` sets every parameter. Spec oracles and
    ``UNSET_PARAMETERS`` are exempt."""
    calls = _production_calls()
    unset = sorted(
        f"{path.relative_to(ROOT / PKG)}: {label}({param})"
        for path, label, called, param, pos, _d in _checked_parameters()
        if not any(module in (None, path) and _argument(call, param, pos) is not None
                   for module, call, _f in calls.get(called, []))
    )
    assert not unset, f"{len(unset)} parameters no production root or package call sets: {unset}"
    stale = sorted(UNSET_PARAMETERS.keys() - {
        f"{label}.{param}" for path in (ROOT / PKG).rglob("*.py") for label, _c, param, _i, _d in _parameters(path)})
    assert not stale, f"UNSET_PARAMETERS names no package parameter: {stale}"


def _constants(path: Path, seen: frozenset = frozenset()) -> dict[str, tuple]:
    """Name -> value of each module constant of ``path`` (an upper-case name
    bound once at module level) and each constant it imports from a package
    module or a root. A value is ``("literal", repr)`` when the right-hand
    side is a literal, else ``("constant", file, name)``."""
    tree, out, bound = ast.parse(path.read_text()), {}, {}
    for node in tree.body:
        targets = node.targets if isinstance(node, ast.Assign) else [node.target] if isinstance(
            node, ast.AnnAssign) and node.value else []
        for t in targets:
            if isinstance(t, ast.Name):
                bound[t.id] = node.value if t.id not in bound else None
    for name, value in bound.items():
        if value is not None and name.isupper():
            out[name] = _literal(value) or ("constant", path, name)
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and path not in seen:
            src = _module_file(_from_module(node, path))
            if src is not None and src.is_relative_to(ROOT) and src.suffix == ".py":
                consts = _constants(src, seen | {path})
                out.update({a.asname or a.name: consts[a.name] for a in node.names if a.name in consts})
    return out


def _literal(node: ast.expr) -> tuple | None:
    try:
        return ("literal", repr(ast.literal_eval(node)))
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return None


@functools.cache
def _module_names(path: Path) -> tuple[dict[str, tuple], dict[str, Path]]:
    """(constants, module aliases) of ``path``."""
    return _constants(path), _aliases(ast.parse(path.read_text()), path)


def _value(node: ast.expr, path: Path) -> tuple:
    """The value ``node`` in ``path`` resolves to: a literal, a module
    constant of ``path``, a constant it imports, or ``alias.CONST``.
    Anything else is a value of its own."""
    if (lit := _literal(node)) is not None:
        return lit
    consts, aliases = _module_names(path)
    if isinstance(node, ast.Name) and node.id in consts:
        return consts[node.id]
    if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
        mod = aliases.get(node.value.id)
        if mod is not None and mod.is_relative_to(ROOT) and mod.suffix == ".py":
            if node.attr in (mod_consts := _module_names(mod)[0]):
                return mod_consts[node.attr]
    return ("expression", id(node))


def test_every_public_parameter_carries_a_choice():
    """Every defaulted parameter the set check covers has a default some
    production call uses and takes two or more values across the production
    calls (ROADMAP aim 2). A parameter whose calls give one value fails as
    one-valued: it is the constant it always holds. Otherwise a parameter
    every call passes fails as an unused default: it is required. A call
    that omits the parameter gives the default. A value is resolved when it
    is a literal, a module constant of the calling module, an imported
    constant or ``alias.CONST``; anything else, a ``*args``/``**kwargs``
    call included, is a value of its own, which no other value equals and
    which is never the one value. Calls resolve as in the set check."""
    calls, flagged = _production_calls(), []
    for path, label, called, param, pos, default in _checked_parameters():
        args = [(_argument(call, param, pos), caller) for module, call, caller in calls.get(called, [])
                if module in (None, path)]
        if not any(a is not None for a, _c in args):
            continue  # unset: the set check names it
        where = f"{path.relative_to(ROOT / PKG)}: {label}({param})"
        values = {_value(default, path) if a is None else _value(a, caller) for a, caller in args}
        if len(values) == 1 and values.pop()[0] != "expression":
            flagged.append(f"{where}: one value")
        elif all(a is not None for a, _c in args):
            flagged.append(f"{where}: default unused")
    assert not flagged, f"{len(flagged)} parameters carry no choice: {sorted(flagged)}"
