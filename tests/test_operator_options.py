"""No operator keeps an option that no caller uses.

A defaulted parameter of a public function in ``fsc_etl_spark/operators/``
is in use when some call in the repository passes it, by keyword or by
position, with a value other than its default, or when a test passes it
at all: a test that names a value pins the behaviour it checks, while
the engine passing the default changes nothing. Every other defaulted
parameter is an option with one value in use, so it belongs in the code
as a literal or a module constant.

Calls are matched by function name, through ``import ... as`` aliases
and attribute access; a ``**mapping`` the scan cannot read counts as
passing every parameter. Pure AST, no Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
OPERATORS = REPO_ROOT / "fsc_etl_spark" / "operators"
SKIP_DIRS = {"__pycache__", ".perfbench", "spark-warehouse", "metastore_db"}


def _sources():
    for path in sorted(REPO_ROOT.rglob("*.py")):
        rel = path.relative_to(REPO_ROOT)
        if not any(p in SKIP_DIRS or p.startswith(".") for p in rel.parts):
            yield rel, ast.parse(path.read_text(), filename=str(rel))


def _operator_defaults():
    """{function name: (positional parameter names, {name: default node})}."""
    out = {}
    for path in sorted(OPERATORS.glob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
                continue
            a = node.args
            pos = [x.arg for x in a.posonlyargs + a.args]
            defaults = dict(zip(pos[len(pos) - len(a.defaults) :], a.defaults))
            defaults.update(
                (x.arg, d) for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
            )
            if defaults:
                out[(path.stem, node.name)] = (pos, defaults)
    return out


def _dict_keys(node):
    """Keys of a literal ``{...}`` or ``dict(...)``; None when unreadable."""
    if isinstance(node, ast.Dict) and all(isinstance(k, ast.Constant) for k in node.keys):
        return [k.value for k in node.keys]
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "dict"
        and not node.args
        and all(kw.arg for kw in node.keywords)
    ):
        return [kw.arg for kw in node.keywords]
    return None


def _passed(call, pos, mappings):
    """(parameter name, value node or None) for each argument of ``call``;
    None stands for a value the scan cannot see."""
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            yield from ((p, None) for p in pos[i:])
            break
        if i < len(pos):
            yield pos[i], arg
    for kw in call.keywords:
        if kw.arg is not None:
            yield kw.arg, kw.value
            continue
        keys = _dict_keys(kw.value)
        if keys is None and isinstance(kw.value, ast.Name):
            keys = mappings.get(kw.value.id)
        yield from ((k, None) for k in (pos if keys is None else keys))


def unused_options():
    defaults = _operator_defaults()
    by_name = {}
    for (module, fn), sig in defaults.items():
        by_name.setdefault(fn, []).append(((module, fn), sig))
    used = set()
    for rel, tree in _sources():
        in_tests = rel.parts[0] == "tests"
        aliases = {
            a.asname: a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            for a in n.names
            if a.asname
        }
        mappings = {}
        for n in ast.walk(tree):
            if isinstance(n, ast.Assign) and len(n.targets) == 1:
                keys = _dict_keys(n.value)
                if keys is not None and isinstance(n.targets[0], ast.Name):
                    mappings[n.targets[0].id] = keys
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            for key, (pos, dflt) in by_name.get(aliases.get(name, name), ()):
                for param, value in _passed(call, pos, mappings):
                    if param in dflt and (
                        in_tests
                        or value is None
                        or ast.dump(value) != ast.dump(dflt[param])
                    ):
                        used.add((*key, param))
    return sorted(
        (module, fn, p)
        for (module, fn), (_, dflt) in defaults.items()
        for p in dflt
        if (module, fn, p) not in used
    )


def test_every_operator_option_has_a_caller():
    unused = unused_options()
    assert not unused, (
        f"{len(unused)} defaulted operator parameters no call sets; make each a "
        "literal or a module constant:\n"
        + "\n".join(f"  {m}.{fn}({p})" for m, fn, p in unused)
    )
