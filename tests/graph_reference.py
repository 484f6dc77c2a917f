"""The driver reference for connected components: union-find over an
edge list, every node labelled with the minimum id of its component
(the label `operators.dedup.connected_components` converges to)."""

from __future__ import annotations

__all__ = ["union_find_components"]


def union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """{node: the minimum node id in its component} for every node on
    an edge. Each root is its component's minimum, so no second pass
    is needed to pick the label."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
