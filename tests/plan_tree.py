"""Read Catalyst plans as trees, from their JSON form rather than the
rendered plan string.

``TreeNode.toJSON`` flattens a tree pre-order: each node carries
``num-children`` and its children follow it. Constructor fields that hold
expressions without being children (``CaseWhen.branches``/``elseValue``) are
serialized a second time as nested lists, so walking the raw JSON counts
those subtrees twice. These helpers rebuild each tree from ``num-children``
and skip the nested copies.
"""

from __future__ import annotations

import json
from typing import Iterator

# (node dict, child trees)
Tree = tuple[dict, list["Tree"]]


def _unflatten(nodes: list[dict], i: int = 0) -> tuple[Tree, int]:
    node, kids = nodes[i], []
    i += 1
    for _ in range(node["num-children"]):
        kid, i = _unflatten(nodes, i)
        kids.append(kid)
    return (node, kids), i


def _is_flat_tree(value) -> bool:
    return (
        isinstance(value, list)
        and bool(value)
        and isinstance(value[0], dict)
        and "num-children" in value[0]
    )


def class_name(node: dict) -> str:
    return node["class"].rsplit(".", 1)[-1]


def plan_nodes(jplan) -> list[dict]:
    """Every node of a JVM plan (``queryExecution().optimizedPlan()`` or
    ``executedPlan()``), pre-order."""
    return json.loads(jplan.toJSON())


def _expressions(node: dict) -> list[Tree]:
    """The expression trees held by one plan node (``projectList``,
    ``condition``, ``udfs``, ...)."""
    out = []
    for value in node.values():
        if _is_flat_tree(value):
            out.append(_unflatten(value)[0])
        elif isinstance(value, list):
            out.extend(_unflatten(v)[0] for v in value if _is_flat_tree(v))
    return out


def _walk(tree: Tree) -> Iterator[Tree]:
    yield tree
    for kid in tree[1]:
        yield from _walk(kid)


def expression_nodes(jplan) -> Iterator[Tree]:
    """Every expression node of every plan node, each exactly once."""
    for node in plan_nodes(jplan):
        for tree in _expressions(node):
            yield from _walk(tree)
