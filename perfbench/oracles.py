"""Independent computations the benchmark checks the program's outputs against.

Nothing here calls a Spark operator: the expected values come from the
sequential reference functions or from the benchmark's own code.
"""

from __future__ import annotations

import math
from collections import defaultdict

from graphrag_mrkr_2_spark.functions.reference_pipeline import (
    SequentialEntityGraph,
    consolidate,
)


def sequential_graph(docs, importance_threshold: float, strength_threshold: float):
    """(triples, node names) of a per-document consolidate +
    SequentialEntityGraph pass — ``run_reference_pipeline`` from already
    extracted per-chunk results instead of LLM responses."""
    triples: set[tuple[str, str, str]] = set()
    names: set[str] = set()
    for _doc, per_chunk in docs:
        entity_dict, rels_by_pair = consolidate(per_chunk)
        graph = SequentialEntityGraph()
        for e in entity_dict.values():
            if e["importance_score"] >= importance_threshold:
                graph.add_entity(e["name"], e["type"], e["description"],
                                 e["importance_score"], e.get("source_chunks") or [])
        for rels in rels_by_pair.values():
            for r in rels:
                if r["strength"] >= strength_threshold:
                    graph.add_relationship(
                        r["source_entity"], r["target_entity"],
                        r["relationship_type"] or "RELATED_TO", r["description"] or "",
                        r["strength"], r.get("source_chunks") or [],
                    )
        triples |= graph.triples()
        names |= {n["name"] for n in graph.nodes.values()}
    return triples, names


class UnionFind:
    def __init__(self) -> None:
        self.parent: dict = {}

    def find(self, x):
        root = x
        while self.parent.setdefault(root, root) != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a, b) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def components(edges) -> dict:
    """node -> component root over an undirected edge list [(u, v, ...)]."""
    uf = UnionFind()
    for u, v, *_ in edges:
        uf.union(u, v)
    return {n: uf.find(n) for n in list(uf.parent)}


def modularity(edges, membership: dict) -> float:
    """Newman modularity (resolution 1) of ``membership`` over an undirected
    weighted edge list [(u, v, w)] with one row per pair. A node missing
    from ``membership`` counts as a community of its own."""
    two_m = 2.0 * sum(w for _, _, w in edges)
    if two_m == 0:
        return 0.0
    degree: dict = defaultdict(float)
    intra = 0.0
    for u, v, w in edges:
        degree[u] += w
        degree[v] += w
        if membership.get(u, u) == membership.get(v, v):
            intra += 2.0 * w
    tot: dict = defaultdict(float)
    for n, d in degree.items():
        tot[membership.get(n, n)] += d
    return intra / two_m - sum(t * t for t in tot.values()) / (two_m * two_m)


def pair_precision_recall(groups: dict, truth: set[frozenset]) -> tuple[float, float]:
    """Pairwise precision/recall of a clustering ``{item: cluster}`` against
    ground-truth pairs."""
    members: dict = defaultdict(list)
    for item, g in groups.items():
        members[g].append(item)
    predicted = {
        frozenset((a, b))
        for ms in members.values()
        for i, a in enumerate(ms)
        for b in ms[i + 1 :]
    }
    tp = len(predicted & truth)
    precision = tp / len(predicted) if predicted else 1.0
    recall = tp / len(truth) if truth else 1.0
    return precision, recall


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def rows_equal(got: list[dict], want: list[dict], key: tuple, columns) -> str | None:
    """None when both row sets agree on ``columns`` (floats to 1e-9
    relative: sums and means may add in another order); else a message."""
    g = {tuple(r[k] for k in key): r for r in got}
    w = {tuple(r[k] for k in key): r for r in want}
    if len(g) != len(got) or len(w) != len(want):
        return f"duplicate keys {key}"
    if g.keys() != w.keys():
        return f"{len(g.keys() - w.keys())} extra / {len(w.keys() - g.keys())} missing rows"
    for k, row in w.items():
        for c in columns:
            if not _same(g[k][c], row[c]):
                return f"{c} differs at {k}: {g[k][c]!r} != {row[c]!r}"
    return None
