"""Every engine parameter has a caller that sets it: each defaulted parameter
of a top-level def in scrubah_pii_spark/ (oracles_sql.py left out) must be
passed a value other than its default by some call in the engine,
__spark_entry__.py, bench.py, perfbench/, tools/ or tests/. A default nobody
changes is a constant dressed up as an option: write it as a named module
constant (citing where the value comes from) or a literal.

A call counts for a def when its callee is the def's name, as a plain name
or an attribute (also through functools.partial). A positional or keyword
argument sets a parameter unless it is the default expression itself (the
same AST, or the same literal value). A *args or **kwargs argument that is
not a dict display counts as setting every parameter it can reach."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "scrubah_pii_spark"

# (def name, parameter) -> why the default stays a parameter. Only deployment
# settings (paths, cluster sizes and the like) belong here.
ALLOWED = {}


def _caller_files():
    yield from sorted(PKG.rglob("*.py"))
    yield ROOT / "__spark_entry__.py"
    yield ROOT / "bench.py"
    yield from sorted((ROOT / "perfbench").glob("*.py"))
    yield from sorted((ROOT / "tools").glob("*.py"))
    yield from sorted((ROOT / "tests").rglob("*.py"))


def _defaulted_params():
    """(path, def node, param name, positional index or None, default)."""
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "oracles_sql.py":
            continue
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            for i, (arg, d) in enumerate(zip(pos[first:], a.defaults)):
                yield path, node, arg.arg, first + i, d
            for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    yield path, node, arg.arg, None, d


def _callee(func):
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _calls(tree):
    """(callee name, positional args, {keyword: value}, open-ended) per call.
    open-ended: a starred or unresolvable ** argument is present."""
    # names bound to a dict display / dict(...) call in the module, for
    # resolving f(**kw); a name bound twice, or updated, is unresolvable
    dicts, spoiled = {}, set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and len(node.targets) == 1 and \
                isinstance(node.targets[0], ast.Name):
            name, v = node.targets[0].id, node.value
            keys = None
            if isinstance(v, ast.Dict) and all(
                    isinstance(k, ast.Constant) for k in v.keys):
                keys = {k.value: val for k, val in zip(v.keys, v.values)}
            elif isinstance(v, ast.Call) and _callee(v.func) == "dict" \
                    and not v.args and all(k.arg for k in v.keywords):
                keys = {k.arg: k.value for k in v.keywords}
            if keys is None or name in dicts:
                spoiled.add(name)
            else:
                dicts[name] = keys
        elif isinstance(node, ast.Call) and \
                isinstance(node.func, ast.Attribute) and \
                isinstance(node.func.value, ast.Name) and \
                node.func.attr in ("update", "setdefault", "__setitem__"):
            spoiled.add(node.func.value.id)
        elif isinstance(node, ast.Subscript) and \
                isinstance(node.ctx, ast.Store) and \
                isinstance(node.value, ast.Name):
            spoiled.add(node.value.id)

    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        name, args, kws = _callee(node.func), list(node.args), {}
        if name == "partial" and args:
            name, args = _callee(args[0]), args[1:]
        open_ended = any(isinstance(a, ast.Starred) for a in args)
        for k in node.keywords:
            if k.arg is not None:
                kws[k.arg] = k.value
            elif isinstance(k.value, ast.Name) and k.value.id in dicts \
                    and k.value.id not in spoiled:
                kws.update(dicts[k.value.id])
            else:
                open_ended = True
        yield name, args, kws, open_ended


def _same(value, default):
    if ast.dump(value) == ast.dump(default):
        return True
    try:
        v, d = ast.literal_eval(value), ast.literal_eval(default)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return False
    return type(v) is type(d) and v == d


def unset_parameters():
    params = list(_defaulted_params())
    names = {node.name for _, node, _, _, _ in params}
    set_ = set()
    for path in _caller_files():
        for name, args, kws, open_ended in _calls(ast.parse(path.read_text())):
            if name not in names:
                continue
            for p, node, param, idx, default in params:
                if node.name != name:
                    continue
                if param in kws:
                    value = kws[param]
                elif idx is not None and idx < len(args) and \
                        not isinstance(args[idx], ast.Starred):
                    value = args[idx]
                else:
                    if open_ended:
                        set_.add((p, node.name, param))
                    continue
                if not _same(value, default):
                    set_.add((p, node.name, param))
    return [
        f"{p.relative_to(ROOT)}:{node.lineno} "
        f"{node.name}({param}={ast.unparse(default)})"
        for p, node, param, _, default in params
        if (p, node.name, param) not in set_
        and (node.name, param) not in ALLOWED
    ]


def test_every_defaulted_parameter_is_set_by_a_caller():
    unset = unset_parameters()
    assert unset == [], (
        f"{len(unset)} defaulted engine parameters no caller sets to another "
        "value (make each a named constant or a literal):\n"
        + "\n".join(unset))


if __name__ == "__main__":
    print("\n".join(unset_parameters()))
