"""Every engine module is reachable from an engine entry point.

Walks ``import`` statements (module-level and function-local) with
``ast`` — no Spark, no imports executed — starting from the crawl loop,
the streaming paths, the query operators, `__spark_entry__.py` and the
benchmark. A ``crunchy_spark`` module that none of them reaches is dead
code; this test keeps such modules from coming back unnoticed.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "crunchy_spark"

ENTRY_FILES = [
    "crunchy_spark/loop.py",
    "crunchy_spark/streaming.py",
    "crunchy_spark/queries.py",
    "__spark_entry__.py",
] + sorted(
    os.path.relpath(p, ROOT) for p in glob.glob(os.path.join(ROOT, "crawlbench", "*.py"))
)

# modules no engine entry imports, each with the reason it stays
ALLOWED_UNREACHED = {
    "refsim": "the serial reference simulator: tests/test_parity.py's parity spec",
}


def _module_name(rel_path: str) -> str:
    parts = rel_path[: -len(".py")].split(os.sep)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _imported(rel_path: str) -> set[str]:
    """Dotted names of every module an import in ``rel_path`` may name."""
    with open(os.path.join(ROOT, rel_path)) as f:
        tree = ast.parse(f.read(), rel_path)
    name = _module_name(rel_path)
    package = name if rel_path.endswith("__init__.py") else name.rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base_parts = package.split(".")
                base_parts = base_parts[: len(base_parts) - (node.level - 1)]
                base = ".".join(p for p in base_parts + [node.module or ""] if p)
            else:
                base = node.module
            names.add(base)
            # ``from pkg import mod`` names a submodule
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def _module_path(name: str) -> str | None:
    rel = name.replace(".", os.sep)
    for cand in (rel + ".py", os.path.join(rel, "__init__.py")):
        if os.path.isfile(os.path.join(ROOT, cand)):
            return cand
    return None


def _reached_modules() -> set[str]:
    seen: set[str] = set()
    todo = list(ENTRY_FILES)
    while todo:
        path = todo.pop()
        name = _module_name(path)
        if name in seen:
            continue
        seen.add(name)
        for imp in _imported(path):
            if imp == PKG or imp.startswith(PKG + "."):
                found = _module_path(imp)
                if found is not None:
                    todo.append(found)
    return seen


def test_every_engine_module_is_reached_from_an_entry():
    reached = _reached_modules()
    modules = {
        os.path.basename(p)[: -len(".py")]
        for p in glob.glob(os.path.join(ROOT, PKG, "*.py"))
    } - {"__init__"}
    unreached = {m for m in modules if f"{PKG}.{m}" not in reached}
    assert unreached == set(ALLOWED_UNREACHED), (
        f"unreached: {sorted(unreached - set(ALLOWED_UNREACHED))}; "
        f"allow-listed but reached or gone: "
        f"{sorted(set(ALLOWED_UNREACHED) - unreached)}"
    )


def test_every_crawl_config_field_is_read():
    """Every ``CrawlConfig`` field is read as ``conf.<field>`` somewhere in
    the engine package, so a knob nothing consults cannot linger."""
    with open(os.path.join(ROOT, PKG, "loop.py")) as f:
        loop = ast.parse(f.read())
    (cls,) = [
        n for n in loop.body if isinstance(n, ast.ClassDef) and n.name == "CrawlConfig"
    ]
    fields = {
        n.target.id
        for n in cls.body
        if isinstance(n, ast.AnnAssign) and isinstance(n.target, ast.Name)
    }
    assert fields
    read: set[str] = set()
    for path in glob.glob(os.path.join(ROOT, PKG, "*.py")):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load)):
                continue
            owner = node.value
            name = owner.id if isinstance(owner, ast.Name) else getattr(owner, "attr", None)
            if name == "conf":
                read.add(node.attr)
    assert fields <= read, f"CrawlConfig fields never read: {sorted(fields - read)}"
