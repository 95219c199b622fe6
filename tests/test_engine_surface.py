"""The engine ships only what runs: every top-level def and module constant
in scrubah_pii_spark/ must be referenced by code outside tests/ — another
engine module, __spark_entry__.py, bench.py, perfbench/ or tools/.

A reference is a Load-context name, an attribute or an import alias. A
constant's own assignment, a def's reference to itself, and mentions in
comments or docstrings do not count. Code that only tests call belongs in
tests/ (as a reference the engine is compared against) or nowhere."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "scrubah_pii_spark"

# resume_pipeline is the checkpoint-resume entry point a caller runs by hand;
# __version__ is package metadata.
ALLOWED = {"resume_pipeline", "__version__"}


def _scanned_files():
    yield from sorted(PKG.rglob("*.py"))
    yield ROOT / "__spark_entry__.py"
    yield ROOT / "bench.py"
    yield from sorted((ROOT / "perfbench").glob("*.py"))
    yield from sorted((ROOT / "tools").glob("*.py"))


def _top_level_names(tree):
    """(name, node) for each top-level def, class and module constant."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) \
                else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id, node


def _references(tree):
    """Names referenced in this module, each with the top-level node it
    sits in (so a def's references to itself can be left out)."""
    for top in tree.body:
        for node in ast.walk(top):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                yield node.id, top
            elif isinstance(node, ast.Attribute) and \
                    isinstance(node.ctx, ast.Load):
                yield node.attr, top
            elif isinstance(node, ast.alias):
                yield node.name.rsplit(".", 1)[-1], top


def unreferenced_names():
    defined = []      # (module path, name, node)
    refs = {}         # name -> list of (path, enclosing top-level node)
    for path in _scanned_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        if path.is_relative_to(PKG):
            defined += [(path, name, node)
                        for name, node in _top_level_names(tree)]
        for name, top in _references(tree):
            refs.setdefault(name, []).append((path, top))
    out = []
    for path, name, node in defined:
        if name in ALLOWED:
            continue
        if not any(top is not node for _, top in refs.get(name, [])):
            out.append(f"{path.relative_to(ROOT)}:{node.lineno} {name}")
    return out


def test_every_engine_name_has_a_caller_outside_tests():
    missing = unreferenced_names()
    assert missing == [], (
        f"{len(missing)} engine names nothing outside tests/ references "
        "(move a test reference into tests/, or delete it):\n"
        + "\n".join(missing))


if __name__ == "__main__":
    print("\n".join(unreferenced_names()))
