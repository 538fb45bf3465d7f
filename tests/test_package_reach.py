"""No package code that only its own tests reach (no Spark).

A transitive walk over the source: its roots are the module-level code of
every `tinymr_spark` module, the registry's `q<N>_` callables, and all of
`bench.py`, `__spark_entry__.py`, `tools/` and `perfbench/` (harness tests
excluded).  A top-level def of `tinymr_spark` is reached when reached code
names it: by a bare name in its own module, by an imported name, or by an
attribute of a RESOLVED module alias.  An attribute of anything else never
counts, so `df.write` is not a use of `minitable.write`.  A string literal
counts only as an argument of a call that also passes the module it names
a def of (`getattr(mod, "name")`, perfbench's `trace.instrument`).

Every def the walk does not reach must be in KEEP with its reason.  The
same pass fails on an import that a package module binds and never uses.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "tinymr_spark"

KEEP = {
    "tinymr_spark.__getattr__": "PEP 562 hook: Python calls it for `tinymr_spark.__version__`",
    "tinymr_spark.sources.minitable.vacuum": "the table's only space reclamation",
    "tinymr_spark.sources.minitable.detail": "the table's only inspection verb",
}

_QUERY = re.compile(r"q\d+_\w+")


def _modname(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _sources() -> tuple[dict[str, tuple[Path, ast.Module]], set[str]]:
    """{module name: (path, tree)} for the package and every root file,
    and the names of the root modules."""
    pkg = sorted((ROOT / PACKAGE).rglob("*.py"))
    roots = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    roots += sorted((ROOT / "tools").glob("*.py"))
    roots += [
        p for p in sorted((ROOT / "perfbench").rglob("*.py"))
        if "tests" not in p.relative_to(ROOT).parts
    ]
    mods = {_modname(p): (p, ast.parse(p.read_text(), str(p))) for p in pkg + roots}
    return mods, {_modname(p) for p in roots}


class _Walk:
    def __init__(self):
        self.mods, self.root_mods = _sources()
        # top-level defs: {module: {name: node}}
        self.defs = {
            m: {
                n.name: n
                for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            }
            for m, (_, tree) in self.mods.items()
        }
        # every import anywhere in a module, as {bound name: target}
        self.imports = {m: self._imports(m, tree) for m, (_, tree) in self.mods.items()}

    def _absolute(self, mod: str, node: ast.ImportFrom) -> str:
        if not node.level:
            return node.module or ""
        is_pkg = self.mods[mod][0].name == "__init__.py"
        base = mod.split(".")
        base = base[: len(base) - node.level + (1 if is_pkg else 0)]
        return ".".join(base + ([node.module] if node.module else []))

    def _imports(self, mod: str, tree: ast.Module) -> dict[str, tuple]:
        out: dict[str, tuple] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        out[a.asname] = ("mod", a.name)
                    else:
                        top = a.name.split(".")[0]
                        out[top] = ("mod", top)
            elif isinstance(node, ast.ImportFrom):
                src = self._absolute(mod, node)
                for a in node.names:
                    out[a.asname or a.name] = ("from", src, a.name)
        return out

    def resolve(self, mod: str, name: str, seen=()) -> tuple | None:
        """What bare `name` means in module `mod`: ("mod", m), ("def", m,
        n), or None for anything outside the walked sources."""
        if name in self.defs.get(mod, {}):
            return ("def", mod, name)
        target = self.imports.get(mod, {}).get(name)
        if target is None:
            return None
        if target[0] == "mod":
            return target
        return self.member(target[1], target[2], seen)

    def member(self, mod: str, name: str, seen=()) -> tuple | None:
        """What `mod.name` means: a submodule, a def, or a re-export."""
        if f"{mod}.{name}" in self.mods:
            return ("mod", f"{mod}.{name}")
        if mod not in self.mods or (mod, name) in seen:
            return None
        return self.resolve(mod, name, seen + ((mod, name),))

    def uses(self, mod: str, node: ast.AST) -> set[tuple[str, str]]:
        """The package defs that code `node` of module `mod` names."""
        found: set[tuple[str, str]] = set()

        def ref(n: ast.AST) -> tuple | None:
            if isinstance(n, ast.Name):
                return self.resolve(mod, n.id)
            if isinstance(n, ast.Attribute):
                base = ref(n.value)
                if base and base[0] == "mod":
                    return self.member(base[1], n.attr)
            return None

        for n in ast.walk(node):
            if isinstance(n, (ast.Name, ast.Attribute)):
                r = ref(n)
                if r and r[0] == "def":
                    found.add(r[1:])
            elif isinstance(n, ast.Call):
                targets = [r[1] for r in map(ref, n.args) if r and r[0] == "mod"]
                for s in (c for a in n.args for c in ast.walk(a)):
                    if isinstance(s, ast.Constant) and isinstance(s.value, str):
                        found.update((m, s.value) for m in targets if s.value in self.defs.get(m, {}))
        return found

    def unreached(self) -> list[str]:
        pending: set[tuple[str, str]] = set()
        for mod, (_, tree) in self.mods.items():
            if mod in self.root_mods:
                pending |= self.uses(mod, tree)
                continue
            for stmt in tree.body:
                if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    if _QUERY.fullmatch(stmt.name):
                        pending.add((mod, stmt.name))
                else:
                    pending |= self.uses(mod, stmt)
        reached: set[tuple[str, str]] = set()
        while pending:
            key = pending.pop()
            if key in reached:
                continue
            reached.add(key)
            pending |= self.uses(key[0], self.defs[key[0]][key[1]]) - reached
        return sorted(
            f"{mod}.{name}"
            for mod, names in self.defs.items()
            if mod.split(".")[0] == PACKAGE
            for name in names
            if (mod, name) not in reached
        )

    def unused_imports(self) -> list[str]:
        """Imports a package module binds and never uses: at module level
        (an `__init__` may re-export a name in its `__all__` or one that
        another module imports from it), or inside a top-level def."""
        reexported = {
            t[1:] for imps in self.imports.values() for t in imps.values() if t[0] == "from"
        }
        out = []
        for mod, (path, tree) in self.mods.items():
            if mod.split(".")[0] != PACKAGE:
                continue
            exported = set()
            if path.name == "__init__.py":
                exported = {n for m, n in reexported if m == mod} | _dunder_all(tree)
            scopes = [(tree, tree.body, exported)]
            scopes += [(d, list(ast.walk(d)), set()) for d in self.defs[mod].values()]
            for scope, stmts, allowed in scopes:
                loaded = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
                for stmt in stmts:
                    if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                        continue
                    if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
                        continue
                    for a in stmt.names:
                        bound = a.asname or a.name.split(".")[0]
                        if bound not in loaded | allowed:
                            out.append(f"{mod}: {bound} (line {stmt.lineno})")
        return out


def _dunder_all(tree: ast.Module) -> set[str]:
    for stmt in tree.body:
        if isinstance(stmt, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
        ):
            return set(ast.literal_eval(stmt.value))
    return set()


def test_every_package_def_is_reached_from_non_test_code():
    walk = _Walk()
    unreached = walk.unreached()
    assert set(unreached) - set(KEEP) == set(), (
        "top-level defs that only tests reach, or nothing: delete them or "
        "add each to KEEP with its reason"
    )
    assert set(KEEP) - set(unreached) == set(), "KEEP entries that are reached now"
    assert all(reason.strip() for reason in KEEP.values())


def test_package_modules_use_every_module_level_import():
    assert _Walk().unused_imports() == []


def test_walk_tells_a_module_attribute_from_a_method():
    """`x.detail` or `df.write` is never a use of minitable's defs; the
    same attribute off a resolved module alias is."""
    walk = _Walk()
    mod = "tinymr_spark.operators.scale"
    alias = ast.parse("from tinymr_spark.sources import minitable as mt")
    walk.imports[mod] = {**walk.imports[mod], **walk._imports(mod, alias)}
    assert walk.uses(mod, ast.parse("x.detail(p); df.write.parquet(p)")) == set()
    assert walk.uses(mod, ast.parse("mt.detail(p)")) == {("tinymr_spark.sources.minitable", "detail")}
