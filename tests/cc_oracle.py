"""Independent connected-components oracle for the clustering tests.

The textbook union-find, no Spark: ``union_find(edges)`` maps every
node that appears in an edge to the MINIMUM node id of its component —
the label contract of ``operators.clustering.connected_components``.
"""

from __future__ import annotations


def union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comps = {}
    for node in list(parent):
        comps.setdefault(find(node), []).append(node)
    return {
        node: min(members)
        for members in comps.values()
        for node in members
    }
