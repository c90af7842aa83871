"""Correctness checks run in the Spark driver process after the timed region.

- ``reference_name_clusters``: replica of the reference ``cluster()`` edge
  rule (log1p + L2-normalised candidate weights, cosine over shared
  entities, edge when score > threshold) with its order-independent
  transitive closure; the program's name clusters must reach pairwise
  F1 >= 0.99 against it.
- ``union_find``: the expected ``er_clusters`` partition from the committed
  match edges (compared after ``canonical`` relabelling).
- ``pairwise_f1``: pairwise F1 between two partitions of the same items,
  from cell counts (pairs are never enumerated).
"""

from __future__ import annotations

import math
from collections import Counter


def union_find(nodes, edges) -> dict:
    """node -> smallest node of its connected component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in parent}


def canonical(assign: dict) -> dict:
    """Relabel a partition (item -> label) by each cluster's smallest item,
    so two partitions compare equal whatever labels they use."""
    least: dict = {}
    for item, label in assign.items():
        least[label] = min(least.get(label, item), item)
    return {item: least[label] for item, label in assign.items()}


def reference_name_clusters(name_scores: dict, threshold: float) -> dict:
    """anchor -> cluster label under the reference ``cluster()`` semantics.
    ``name_scores``: anchor -> {qid: weight}."""
    norm = {}
    for a, ec in name_scores.items():
        lw = {e: math.log1p(c) for e, c in ec.items()}
        t = math.sqrt(sum(v * v for v in lw.values()))
        norm[a] = {e: v / t for e, v in lw.items()}
    by_entity: dict = {}
    for a, es in norm.items():
        for e in es:
            by_entity.setdefault(e, set()).add(a)
    edges = []
    for a, es in norm.items():
        others = set().union(*(by_entity[e] for e in es)) - {a}
        for o in others:
            score = sum(norm[o][e] * w for e, w in es.items() if e in norm[o])
            if score > threshold:
                edges.append((a, o))
    return union_find(norm, edges)


def _pairs(sizes) -> int:
    return sum(n * (n - 1) // 2 for n in sizes)


def pairwise_f1(pred: dict, gold: dict) -> float:
    """Pairwise F1 of partition ``pred`` against ``gold`` (item -> label)
    over their common items; 1.0 when neither has a co-clustered pair."""
    items = pred.keys() & gold.keys()
    tp = _pairs(Counter((pred[i], gold[i]) for i in items).values())
    pp = _pairs(Counter(pred[i] for i in items).values())
    gp = _pairs(Counter(gold[i] for i in items).values())
    if pp == 0 and gp == 0:
        return 1.0
    precision = tp / pp if pp else 1.0
    recall = tp / gp if gp else 1.0
    return 2 * precision * recall / (precision + recall) if precision + recall else 0.0
