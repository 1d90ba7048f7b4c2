"""Option ratchet: every defaulted parameter that picks a branch of a
public package function is set to another value by some call, or is
named here with the reason it stays.

A parameter picks a branch when an ``if`` statement or conditional
expression in its function's body tests it. The calls are every call
to the function by name or attribute in the package, ``tools/``,
``bench.py``, ``perfbench/``, ``dags/``, ``__spark_entry__.py`` and
``tests/``. An argument sets a non-default value unless it is a
literal equal to the default, or the caller's own parameter passed on
unchanged whose callers never set it. A ``*args`` or ``**kwargs``
splat sets every parameter it could reach. A new option that only its
default reaches fails this test; setting an allow-listed one fails it
too, until its entry is removed.
"""

from __future__ import annotations

import ast
import pathlib

import pos_api_pipeline_spark

_DELIVERY = "reference S17 delivery setting; the DAG has no delivery setting yet"

ALLOWED = {
    ("send_report_by_email", "attach_pdf"): _DELIVERY,
    ("send_report_by_email", "use_starttls"): _DELIVERY,
    ("send_report_by_email", "username"): _DELIVERY,
    ("send_report_by_email", "password"): _DELIVERY,
}

_UNKNOWN = object()


def _sources(repo: pathlib.Path) -> list[pathlib.Path]:
    files = [repo / "bench.py", repo / "__spark_entry__.py"]
    for d in ("pos_api_pipeline_spark", "tools", "perfbench", "dags", "tests"):
        files += sorted((repo / d).rglob("*.py"))
    return files


def _literal(node):
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError):
        return _UNKNOWN


def _params(fn: ast.FunctionDef):
    """(positional names, {name: default literal}) of ``fn``."""
    a = fn.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    defaults = dict(zip(positional[len(positional) - len(a.defaults):], a.defaults))
    defaults.update(
        (p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    )
    return positional, {k: _literal(v) for k, v in defaults.items()}


def _tested_names(fn: ast.FunctionDef) -> set[str]:
    return {
        n.id
        for node in ast.walk(fn)
        if isinstance(node, (ast.If, ast.IfExp))
        for n in ast.walk(node.test)
        if isinstance(n, ast.Name)
    }


def _calls(paths: list[pathlib.Path]):
    """(callee name, call node, enclosing top-level function or None)."""
    for path in paths:
        for top in ast.parse(path.read_text()).body:
            owner = top if isinstance(top, ast.FunctionDef) else None
            for node in ast.walk(top):
                if not isinstance(node, ast.Call):
                    continue
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name:
                    yield name, node, owner


def _set_params(positional, defaults, call):
    """{param: argument node} a call passes a non-default-looking value
    to, or None for "every parameter" (a splat)."""
    out = {}
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return None
        if i < len(positional):
            out[positional[i]] = arg
    for kw in call.keywords:
        if kw.arg is None:
            return None
        out[kw.arg] = kw.value
    return {
        k: v
        for k, v in out.items()
        if k in defaults
        and ((lit := _literal(v)) is _UNKNOWN or lit != defaults[k])
    }


def _unset_options(repo: pathlib.Path) -> set[tuple[str, str]]:
    pkg = repo / "pos_api_pipeline_spark"
    fns = {
        node.name: node
        for path in pkg.rglob("*.py")
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef)
    }
    sig = {name: _params(fn) for name, fn in fns.items()}
    # set[(fn, param)] holds once any call sets it: a literal or an
    # expression does at once; a bare name of the caller's own
    # defaulted parameter does when that parameter is set (fixpoint).
    is_set: set[tuple[str, str]] = set()
    forwards: list[tuple[tuple[str, str], tuple[str, str]]] = []
    for name, call, owner in _calls(_sources(repo)):
        if name not in sig:
            continue
        positional, defaults = sig[name]
        passed = _set_params(positional, defaults, call)
        if passed is None:
            is_set |= {(name, p) for p in defaults}
            continue
        owner_defaults = sig[owner.name][1] if owner and owner.name in sig else {}
        for p, arg in passed.items():
            if isinstance(arg, ast.Name) and arg.id in owner_defaults:
                forwards.append(((owner.name, arg.id), (name, p)))
            else:
                is_set.add((name, p))
    grew = True
    while grew:
        grew = False
        for src, dst in forwards:
            if src in is_set and dst not in is_set:
                is_set.add(dst)
                grew = True
    return {
        (name, p)
        for name, fn in fns.items()
        if not name.startswith("_")
        for p in sig[name][1].keys() & _tested_names(fn)
        if (name, p) not in is_set
    }


def test_every_branching_option_is_set_by_a_caller():
    repo = pathlib.Path(pos_api_pipeline_spark.__file__).parent.parent
    assert _unset_options(repo) == set(ALLOWED)
