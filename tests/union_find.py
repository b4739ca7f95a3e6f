"""Pure-Python reference for connected-component labels, shared by
the tests that pin ``graph.components`` and its consumers."""

from __future__ import annotations


def union_find_labels(pairs) -> dict:
    """Min-label connected components by path-compressed union-find:
    {node: component minimum} over every id in ``pairs`` (a self-pair
    makes its id a node)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by MIN root so the representative is the min id
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return {x: find(x) for x in parent}
