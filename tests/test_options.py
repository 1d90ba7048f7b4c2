"""Option ratchet: every option of a public package function that picks
a branch is reached both ways by real callers, or is named here with
the reason it stays.

A parameter picks a branch when an ``if`` statement or conditional
expression in its function's body tests it, or when the function
returns a call that hands it to a package function whose parameter
picks a branch. Where an ``if`` test passes it on as an argument of a
package function, it picks a branch only if that function's parameter
does, by the same rule. An ``isinstance(p, str)`` test normalizes a
str-or-Column argument and picks no branch. The calls counted are
every call to the function by name or attribute outside ``tests/``:
the package, ``tools/``, ``bench.py``, ``perfbench/``, ``dags/`` and
``__spark_entry__.py``. A function that ``tests/test_public_surface.py``
allow-lists has no caller outside the tests, so for it the calls in
``tests/`` count too. Three checks:

1. A defaulted branching parameter is set to another value by some
   call. An argument sets a non-default value unless it is a literal
   equal to the default, or the caller's own parameter passed on
   unchanged whose callers never set it. A ``*args`` or ``**kwargs``
   splat sets every parameter it could reach.
2. A defaulted branching parameter is left at its default by some
   call, so the default's branch runs. A call leaves it there when it
   omits it, passes a literal equal to the default, passes the
   caller's own defaulted parameter on, or splats. A default every
   counted call overrides is named in ``OVERRIDDEN`` with the reason
   it stays.
3. Every string arm ``p == "x"`` of a parameter ``p`` is passed by
   some call: ``"x"`` as a literal, a non-literal argument, a splat,
   or ``"x"`` as the default of a call that leaves ``p`` there.

A new option or arm that only tests reach fails here; so does
reaching an allow-listed option from real code, until its entry is
removed.
"""

from __future__ import annotations

import ast
import pathlib

import pos_api_pipeline_spark

_DELIVERY = "reference S17 delivery setting; the DAG has no delivery setting yet"
_SIZE = "size threshold tests shrink to reach the large-input arm"
_ITEMS = "reference items fetch; the DAG has no items endpoint setting"
_PIN = "per-call pin of the auto-probed collapse (ROADMAP standing decision)"
_RANGE = "the branch only rejects out-of-range input"
_CAP = "star cap: tests shrink it to trip it and pass None for the exact all-pairs reference"

ALLOWED = {
    ("send_report_by_email", "attach_pdf"): _DELIVERY,
    ("send_report_by_email", "use_starttls"): _DELIVERY,
    ("send_report_by_email", "username"): _DELIVERY,
    ("send_report_by_email", "password"): _DELIVERY,
    ("connected_components", "strict"): "non-convergence guard: raise instead of warn",
    ("semantic_dedup", "collapse_exact"): _PIN,
    ("embedding_near_dup_pairs", "collapse_exact"): _PIN,
    ("ngram_jaccard_pairs", "collapse_exact"): _PIN,
    ("simhash_near_dups", "collapse_exact"): _PIN,
    ("repeated_spans_exact", "min_len"): _RANGE,
    ("select_by_token_budget", "max_edge_rows"): _SIZE,
    ("centroids_for_corpus", "target_cluster_size"): _SIZE,
    ("daily_incremental_run", "fetch_items_page"): _ITEMS,
    ("daily_incremental_run", "items_dim_path"): _ITEMS,
    ("embedding_near_dup_pairs", "max_bucket"): _CAP,
    ("simhash_near_dups", "max_bucket"): _CAP,
    ("ngram_jaccard_pairs", "max_family"): _CAP,
}

# Defaults every counted call overrides, so only tests run the
# default's branch.
_ONE_PARTITION = "ungrouped form; a constant group key would put every row in one window partition"
OVERRIDDEN = {
    ("standardize_columns", "by"): _ONE_PARTITION,
    ("weighted_sample_without_replacement", "strata_col"): _ONE_PARTITION,
    ("semantic_dedup", "n_centroids"): "the registry passes the default through the constant its oracle shares",
    ("with_shingles", "hashed"): "string shingles are the reference the hashed ones are pinned to",
    ("chunk_documents", "overlap"): _RANGE,
    ("repeated_substring_spans", "k"): _RANGE,
}

_UNKNOWN = object()


def _repo() -> pathlib.Path:
    return pathlib.Path(pos_api_pipeline_spark.__file__).parent.parent


def _sources(repo: pathlib.Path) -> list[pathlib.Path]:
    files = [repo / "bench.py", repo / "__spark_entry__.py"]
    for d in ("pos_api_pipeline_spark", "tools", "perfbench", "dags"):
        files += sorted((repo / d).rglob("*.py"))
    return [p for p in files if not p.name.startswith("test_")]


def _test_sources(repo: pathlib.Path) -> list[pathlib.Path]:
    return sorted((repo / "tests").rglob("*.py"))


def _surface_allowed(repo: pathlib.Path) -> set[str]:
    """Names ``tests/test_public_surface.py`` allow-lists: reached only
    from the tests."""
    tree = ast.parse((repo / "tests" / "test_public_surface.py").read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "ALLOWED" for t in node.targets
        ):
            return {k.value for k in node.value.keys}
    raise AssertionError("test_public_surface.py has no ALLOWED")


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


def _handed_on(expr, fns, picks) -> dict[int, bool]:
    """{id of a bare-name argument node: whether the parameter it lands
    in picks a branch} for every package-function call in ``expr``."""
    out = {}
    for call in ast.walk(expr):
        if not isinstance(call, ast.Call):
            continue
        f = call.func
        callee = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if callee not in fns:
            continue
        passed = _passed(_params(fns[callee])[0], call) or {}
        for p, arg in passed.items():
            if isinstance(arg, ast.Name):
                out[id(arg)] = p in picks(callee)
    return out


def _str_normalized(expr) -> set[int]:
    """ids of the names ``expr`` tests with ``isinstance(name, str)``:
    a str-or-Column (or str-or-list) normalization, whose arms build
    the same value, not a choice between behaviours."""
    return {
        id(call.args[0])
        for call in ast.walk(expr)
        if isinstance(call, ast.Call)
        and isinstance(call.func, ast.Name)
        and call.func.id == "isinstance"
        and len(call.args) == 2
        and isinstance(call.args[0], ast.Name)
        and isinstance(call.args[1], ast.Name)
        and call.args[1].id == "str"
    }


def _branching(fns: dict[str, ast.FunctionDef]):
    """``picks(name)``: the names package function ``name`` picks a
    branch on, through an ``if`` test or a returned package call (see
    the module docstring)."""
    memo: dict[str, set[str]] = {}

    def named(expr, default: bool) -> set[str]:
        handed = _handed_on(expr, fns, picks)
        typed = _str_normalized(expr)
        return {
            n.id
            for n in ast.walk(expr)
            if isinstance(n, ast.Name)
            and id(n) not in typed
            and handed.get(id(n), default)
        }

    def picks(name: str) -> set[str]:
        if name not in memo:
            memo[name] = set()  # a recursive call adds nothing
            memo[name] = {
                n
                for node in ast.walk(fns[name])
                if isinstance(node, (ast.If, ast.IfExp))
                for n in named(node.test, True)
            } | {
                n
                for node in ast.walk(fns[name])
                if isinstance(node, ast.Return) and node.value is not None
                for n in named(node.value, False)
            }
        return memo[name]

    return picks


def _string_arms(fn: ast.FunctionDef) -> set[tuple[str, str]]:
    """(param, "x") for every ``param == "x"`` comparison in ``fn``."""
    names = {p.arg for p in fn.args.posonlyargs + fn.args.args + fn.args.kwonlyargs}
    arms = set()
    for node in ast.walk(fn):
        if not (
            isinstance(node, ast.Compare)
            and len(node.ops) == 1
            and isinstance(node.ops[0], ast.Eq)
        ):
            continue
        left, right = node.left, node.comparators[0]
        for a, b in ((left, right), (right, left)):
            if (
                isinstance(a, ast.Name)
                and a.id in names
                and isinstance(b, ast.Constant)
                and isinstance(b.value, str)
            ):
                arms.add((a.id, b.value))
    return arms


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


def _passed(positional, call):
    """{param: argument node} of a call, or None for a splat."""
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
    return out


def _scan(repo: pathlib.Path):
    """Package functions, their signatures and their counted calls as
    (argument map or None for a splat, owner name, owner's defaults).
    Calls in ``tests/`` count only for the names
    ``tests/test_public_surface.py`` allow-lists."""
    pkg = repo / "pos_api_pipeline_spark"
    fns = {
        node.name: node
        for path in pkg.rglob("*.py")
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef)
    }
    sig = {name: _params(fn) for name, fn in fns.items()}
    calls: dict[str, list] = {name: [] for name in fns}
    test_callers = _surface_allowed(repo)
    for paths, only in ((_sources(repo), None), (_test_sources(repo), test_callers)):
        for name, call, owner in _calls(paths):
            if name not in sig or (only is not None and name not in only):
                continue
            owner_defaults = sig[owner.name][1] if owner and owner.name in sig else {}
            calls[name].append(
                (_passed(sig[name][0], call), owner and owner.name, owner_defaults)
            )
    return fns, sig, calls


def _sets_non_default(arg, default) -> bool:
    return (lit := _literal(arg)) is _UNKNOWN or lit != default


def _unset_options(repo: pathlib.Path) -> set[tuple[str, str]]:
    fns, sig, calls = _scan(repo)
    picks = _branching(fns)
    # set[(fn, param)] holds once any call sets it: a literal or an
    # expression does at once; a bare name of the caller's own
    # defaulted parameter does when that parameter is set (fixpoint).
    is_set: set[tuple[str, str]] = set()
    forwards: list[tuple[tuple[str, str], tuple[str, str]]] = []
    for name, per_call in calls.items():
        defaults = sig[name][1]
        for passed, owner, owner_defaults in per_call:
            if passed is None:
                is_set |= {(name, p) for p in defaults}
                continue
            for p, arg in passed.items():
                if p not in defaults or not _sets_non_default(arg, defaults[p]):
                    continue
                if isinstance(arg, ast.Name) and arg.id in owner_defaults:
                    forwards.append(((owner, arg.id), (name, p)))
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
        for p in sig[name][1].keys() & picks(name)
        if (name, p) not in is_set
    }


def _leaves_default(passed, p, default, owner_defaults) -> bool:
    if passed is None or p not in passed:
        return True
    arg = passed[p]
    if isinstance(arg, ast.Name) and arg.id in owner_defaults:
        return True
    return not _sets_non_default(arg, default)


def _always_overridden(repo: pathlib.Path) -> set[tuple[str, str]]:
    fns, sig, calls = _scan(repo)
    picks = _branching(fns)
    return {
        (name, p)
        for name in fns
        if not name.startswith("_") and calls[name]
        for p, default in sig[name][1].items()
        if p in picks(name)
        and not any(
            _leaves_default(passed, p, default, od) for passed, _, od in calls[name]
        )
    }


def _may_pass(passed, p, value, default) -> bool:
    """Whether a call can hand ``value`` to ``p``: a splat or a
    non-literal argument can; an omitted ``p`` passes its default."""
    if passed is None:
        return True
    if p not in passed:
        return default == value
    return _literal(passed[p]) in (value, _UNKNOWN)


def _unpassed_arms(repo: pathlib.Path) -> set[tuple[str, str, str]]:
    fns, sig, calls = _scan(repo)
    return {
        (name, p, value)
        for name, fn in fns.items()
        if not name.startswith("_")
        for p, value in _string_arms(fn)
        if not any(
            _may_pass(passed, p, value, sig[name][1].get(p, _UNKNOWN))
            for passed, _, _ in calls[name]
        )
    }


def test_every_branching_option_is_set_by_a_caller():
    assert _unset_options(_repo()) == set(ALLOWED)


def test_no_branching_default_is_overridden_by_every_call():
    assert _always_overridden(_repo()) == set(OVERRIDDEN)


def test_every_dispatch_arm_is_passed_by_a_caller():
    assert _unpassed_arms(_repo()) == set()
