"""Every package module is reached from a live entry point.

A module is live when the static import closure of the repo's entry
points contains it. The roots are the registry entry point
(``__spark_entry__.py``), the registry bench (``bench.py``), the product
benchmark (``perfbench/*.py``), the batch CLI (the package
``__main__.py``) and every registry module ``load_registry`` imports by
string (``plans._MODULES``). The closure follows every ``import`` and
``from ... import``, function-level ones included, and counts each
package ``__init__.py`` on the way. A module only its own tests import
fails here: delete it, or wire it to an entry point.

A second static pin keeps ``operators/cache.py`` the only module that
persists or unpersists (see ``test_only_the_cache_module_persists``).

Static analysis only: nothing is imported and no Spark session starts.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "notion_vector_store_etl_pipeline_spark"

# Kept although no entry point imports them: they are the reference
# pipeline's download/upload surface (per-partition HTTP fetch and the
# object-store/vector-store transports), exercised by their own tests
# until a CLI or stream path adopts them.
UNREACHED_BY_DESIGN = frozenset({
    f"{PKG}/operators/fetch.py",
    f"{PKG}/operators/transports.py",
})


def _module_file(dotted: str, local_dir: pathlib.Path) -> pathlib.Path | None:
    """The repo file a dotted name resolves to: a module or a package
    ``__init__.py`` under the repo root, else a sibling of the importing
    file (``perfbench`` imports its own modules by bare name)."""
    rel = pathlib.Path(*dotted.split("."))
    for base in (ROOT, local_dir):
        for cand in (base / rel.with_suffix(".py"), base / rel / "__init__.py"):
            if cand.is_file():
                return cand
    return None


def _package_chain(dotted: str, local_dir: pathlib.Path) -> list[pathlib.Path]:
    """``a.b.c`` imports ``a``, then ``a.b``, then ``a.b.c``."""
    parts = dotted.split(".")
    found = []
    for i in range(1, len(parts) + 1):
        f = _module_file(".".join(parts[:i]), local_dir)
        if f is not None:
            found.append(f)
    return found


def _imports(path: pathlib.Path) -> list[pathlib.Path]:
    tree = ast.parse(path.read_text(), filename=str(path))
    here = path.parent
    out: list[pathlib.Path] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                out += _package_chain(alias.name, here)
        elif isinstance(node, ast.ImportFrom):
            # The repo imports absolutely; a relative import would need
            # resolving against the importing package first.
            assert node.level == 0, f"{path}:{node.lineno}: relative import"
            base = node.module
            out += _package_chain(base, here)
            # ``from pkg.sub import mod`` imports the submodule ``mod``.
            for alias in node.names:
                sub = _module_file(f"{base}.{alias.name}", here)
                if sub is not None:
                    out.append(sub)
    return out


def _registry_modules() -> list[str]:
    init = ROOT / PKG / "plans" / "__init__.py"
    for node in ast.parse(init.read_text()).body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "_MODULES" for t in node.targets
        ):
            return [f"{PKG}.plans.{m}" for m in ast.literal_eval(node.value)]
    raise AssertionError("plans/__init__.py defines no _MODULES tuple")


def _roots() -> list[pathlib.Path]:
    roots = [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / PKG / "__main__.py"]
    roots += sorted((ROOT / "perfbench").glob("*.py"))
    for dotted in _registry_modules():
        roots += _package_chain(dotted, ROOT)
    return roots


def _closure() -> set[pathlib.Path]:
    seen: set[pathlib.Path] = set()
    todo = _roots()
    while todo:
        f = todo.pop().resolve()
        if f in seen:
            continue
        seen.add(f)
        todo += _imports(f)
    return seen


def test_every_package_module_is_reached():
    reached = _closure()
    unreached = sorted(
        str(f.relative_to(ROOT))
        for f in (ROOT / PKG).rglob("*.py")
        if f.resolve() not in reached
    )
    assert [u for u in unreached if u not in UNREACHED_BY_DESIGN] == []
    # The exemption list itself stays honest: a module that became
    # reachable leaves it.
    assert set(unreached) == UNREACHED_BY_DESIGN


# The one module allowed to persist or unpersist: every other package
# module pins through operators.cache, either with ``persist(df)`` or
# with ``c.persist(df)`` on a scope (``with cache_scope() as c``, or a
# parameter annotated ``CacheScope``), so each cache has one of two
# known lifetimes. localCheckpoint stays allowed.
CACHE_MODULE = f"{PKG}/operators/cache.py"
RAW_CACHE_CALLS = frozenset({"persist", "unpersist", "cache"})


def _raw_cache_calls(tree: ast.AST) -> list[ast.Call]:
    scopes = {
        item.optional_vars.id
        for node in ast.walk(tree)
        if isinstance(node, ast.With)
        for item in node.items
        if isinstance(item.context_expr, ast.Call)
        and isinstance(item.context_expr.func, ast.Name)
        and item.context_expr.func.id == "cache_scope"
        and isinstance(item.optional_vars, ast.Name)
    } | {
        node.arg
        for node in ast.walk(tree)
        if isinstance(node, ast.arg)
        and isinstance(node.annotation, ast.Name)
        and node.annotation.id == "CacheScope"
    }
    return [
        node
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in RAW_CACHE_CALLS
        and not (
            node.func.attr == "persist"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id in scopes
        )
    ]


def test_only_the_cache_module_persists():
    raw = [
        f"{f.relative_to(ROOT)}:{node.lineno} .{node.func.attr}()"
        for f in sorted((ROOT / PKG).rglob("*.py"))
        if str(f.relative_to(ROOT)) != CACHE_MODULE
        for node in _raw_cache_calls(ast.parse(f.read_text(), filename=str(f)))
    ]
    assert raw == []
