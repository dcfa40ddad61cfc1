"""Output checks. Each takes plain Python values (rows already collected
from Spark) and returns a list of failure messages, empty when the
output is correct, so every check runs without Spark in the self-tests.
"""

from __future__ import annotations

from gen import jaccard


def equal(what: str, got, expected) -> list[str]:
    return [] if got == expected else [f"{what}: got {got!r}, expected {expected!r}"]


def trace_coverage(layer_s: float, wall_s: float, share: float = 0.9) -> list[str]:
    """The layer spans' self times cover at least ``share`` of the
    traced wall time, so no large part of the run goes unattributed."""
    if layer_s >= share * wall_s:
        return []
    return [f"layer self times cover {layer_s:.3f}s of the traced {wall_s:.3f}s"]


def topic_day_totals(rows, topic_of: dict, i_nk: int, i_date: int, i_op: int) -> set:
    """Model of the flat-view aggregate over publication-fact rows:
    (topic, date key, articles, summed OpinionCount) per topic and day."""
    out: dict = {}
    for row in rows:
        g = (topic_of[row[i_nk]], row[i_date])
        c, s = out.get(g, (0, 0))
        out[g] = (c + 1, s + row[i_op])
    return {(g[0], g[1], c, s) for g, (c, s) in out.items()}


def feed_counts(a: dict, b: dict) -> dict:
    """Model of ``changes(a, b)``: an endpoint row diff, so a changed
    key is one delete plus one insert and an unchanged key is nothing."""
    ins = sum(1 for k, r in b.items() if a.get(k) != r)
    dels = sum(1 for k, r in a.items() if b.get(k) != r)
    return {"insert": ins, "delete": dels}


def near_duplicate_pairs(
    pairs: list[tuple[int, int]],
    shingle_sets: dict[int, set],
    planted: list[tuple[int, int]],
    threshold: float,
    min_recall: float = 0.99,
) -> list[str]:
    """Every returned pair has exact Jaccard >= threshold, no pair
    repeats, and the planted pairs at or above the threshold are found."""
    out = []
    if len(set(pairs)) != len(pairs):
        out.append("pairs: duplicate pairs")
    bad = [p for p in pairs if p[0] >= p[1] or jaccard(shingle_sets[p[0]], shingle_sets[p[1]]) < threshold - 1e-9]
    if bad:
        out.append(f"pairs: {len(bad)} pairs below Jaccard {threshold} or not ordered")
    want = [p for p in planted if jaccard(shingle_sets[p[0]], shingle_sets[p[1]]) >= threshold]
    found = set(pairs)
    recall = sum(1 for p in want if p in found) / len(want) if want else 1.0
    if recall < min_recall:
        out.append(f"pairs: recall {recall:.4f} on {len(want)} planted pairs < {min_recall}")
    return out


def survivors_of(doc_ids: list[int], pairs: list[tuple[int, int]]) -> set[int]:
    """Union-find over the pairs: each cluster keeps its minimum id."""
    parent = {d: d for d in doc_ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d for d in doc_ids if find(d) == d}
