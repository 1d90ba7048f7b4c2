"""Search-kernel ratchet: each bit-parity decision of the vector-search
family is spelled out in one function, and every search path calls it.

In ``llm/similarity.py`` and ``plans/registry_llm.py``:

- the per-query rank window ``Window.partitionBy("query_id")`` (the
  ``(score, neighbor_id asc)`` tie order) lives in ``_top_k_per_query``;
- the recall@k hit share ``coalesce("hit", ...)`` lives in
  ``recall_at_k``;
- a ``_dot(...) / (... * ...)`` cosine (its operand order) lives in
  ``_cos_normed``.

A copy of any of them in another function fails here; call the owner.
"""

from __future__ import annotations

import ast
import pathlib

import pos_api_pipeline_spark

OWNERS = {
    "query_id rank window": "_top_k_per_query",
    "recall hit share": "recall_at_k",
    "dot / (norm * norm) cosine": "_cos_normed",
}


def _kind(node: ast.AST) -> str | None:
    if isinstance(node, ast.Call):
        f, args = node.func, node.args
        first = args[0].value if args and isinstance(args[0], ast.Constant) else None
        if (
            isinstance(f, ast.Attribute)
            and f.attr == "partitionBy"
            and isinstance(f.value, ast.Name)
            and f.value.id == "Window"
            and first == "query_id"
        ):
            return "query_id rank window"
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name == "coalesce" and first == "hit":
            return "recall hit share"
    if (
        isinstance(node, ast.BinOp)
        and isinstance(node.op, ast.Div)
        and isinstance(node.left, ast.Call)
        and getattr(node.left.func, "id", None) == "_dot"
        and isinstance(node.right, ast.BinOp)
        and isinstance(node.right.op, ast.Mult)
    ):
        return "dot / (norm * norm) cosine"
    return None


def _spellings() -> list[tuple[str, str, str]]:
    """(kind, file, enclosing top-level function) per spelling."""
    pkg = pathlib.Path(pos_api_pipeline_spark.__file__).parent
    found = []
    for rel in ("llm/similarity.py", "plans/registry_llm.py"):
        for top in ast.parse((pkg / rel).read_text()).body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                kind = _kind(node)
                if kind:
                    found.append((kind, rel, owner))
    return found


def test_each_search_kernel_is_spelled_once_in_its_owner():
    found = _spellings()
    assert sorted(found) == sorted(
        (kind, "llm/similarity.py", owner) for kind, owner in OWNERS.items()
    )
