"""Kernel ratchet: each bit-parity decision of the vector-search and
text near-dup families is spelled out in one function, and every path
calls it.

In ``llm/similarity.py``, ``plans/registry_llm.py``, ``llm/dedup.py``,
``llm/curation.py``, ``llm/suffix.py`` and ``llm/text.py``:

- the per-query rank window ``Window.partitionBy("query_id")`` (the
  ``(score, neighbor_id asc)`` tie order) lives in ``_top_k_per_query``;
- the recall@k hit share ``coalesce("hit", ...)`` lives in
  ``recall_at_k``;
- a ``_dot(...) / (... * ...)`` cosine (its operand order) lives in
  ``_cos_normed``;
- the replica grouping ``sort_array(collect_list(...))`` (sorted ids,
  lowest first, lambda-free so its exchange is reused) lives in
  ``dedup._replica_groups``;
- the whitespace tokenizer ``split(..., r"\\s+")`` lives in
  ``text.tokens``.

A copy of any of them in another function fails here; call the owner.
A near-dup detector states both collapse grains in one body, so
``llm/dedup.py`` has no top-level ``*_collapsed`` twin.
"""

from __future__ import annotations

import ast
import pathlib

import pos_api_pipeline_spark

FILES = (
    "llm/similarity.py",
    "plans/registry_llm.py",
    "llm/dedup.py",
    "llm/curation.py",
    "llm/suffix.py",
    "llm/text.py",
)

OWNERS = {
    "query_id rank window": ("llm/similarity.py", "_top_k_per_query"),
    "recall hit share": ("llm/similarity.py", "recall_at_k"),
    "dot / (norm * norm) cosine": ("llm/similarity.py", "_cos_normed"),
    "replica grouping": ("llm/dedup.py", "_replica_groups"),
    "whitespace tokenizer": ("llm/text.py", "tokens"),
}


def _name(f: ast.AST) -> str | None:
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


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
        name = _name(f)
        if name == "coalesce" and first == "hit":
            return "recall hit share"
        if (
            name == "sort_array"
            and args
            and isinstance(args[0], ast.Call)
            and _name(args[0].func) == "collect_list"
        ):
            return "replica grouping"
        if (
            name == "split"
            and len(args) > 1
            and isinstance(args[1], ast.Constant)
            and args[1].value == r"\s+"
        ):
            return "whitespace tokenizer"
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


def _tops(rel: str) -> list[ast.stmt]:
    pkg = pathlib.Path(pos_api_pipeline_spark.__file__).parent
    return ast.parse((pkg / rel).read_text()).body


def _spellings() -> list[tuple[str, str, str]]:
    """(kind, file, enclosing top-level function) per spelling."""
    found = []
    for rel in FILES:
        for top in _tops(rel):
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                kind = _kind(node)
                if kind:
                    found.append((kind, rel, owner))
    return found


def test_each_search_kernel_is_spelled_once_in_its_owner():
    found = _spellings()
    assert sorted(found) == sorted(
        (kind, rel, owner) for kind, (rel, owner) in OWNERS.items()
    )


def test_no_collapsed_detector_twin():
    twins = [
        top.name
        for top in _tops("llm/dedup.py")
        if isinstance(top, ast.FunctionDef) and top.name.endswith("_collapsed")
    ]
    assert twins == []
