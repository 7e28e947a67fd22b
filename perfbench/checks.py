"""Output checks.  None of this is timed; each function returns a list of
failure messages (empty when the output is correct)."""

from __future__ import annotations

from collections import Counter, defaultdict, deque

from docs2kg_spark.config import DEFAULT_ONTOLOGY
from docs2kg_spark.oracle.reference import (
    ReferenceOracle,
    cooccurrence_triples,
    extract_segment_mentions,
)


def _candidate_entries(text: str, gazetteer) -> list[tuple[str, str]]:
    """The gazetteer entries that can match ``text``, in gazetteer order.

    Both reference matchers need every token of a surface to occur in the
    lower-cased text (the token path matches whole tokens; the substring
    path needs the whole surface), except a surface containing '.', which
    the substring path can match across the '.' it appends to each chunk.
    Dropping the other entries leaves the reference output unchanged and
    keeps the oracle fast on a vocabulary of thousands of surfaces."""
    lowered = text.lower()
    return [
        (e, t)
        for e, t in gazetteer
        if "." in e or all(tok in lowered for tok in e.lower().split())
    ]


def oracle_triples(rows: list[dict], gazetteer) -> set[tuple]:
    """(seg_id, subj, pred, obj) the reference pipeline emits for ``rows``."""
    out = set()
    for seg in ReferenceOracle(gazetteer=gazetteer).segments(rows):
        gaz = _candidate_entries(seg["text"], gazetteer)
        ms = extract_segment_mentions(seg["text"], gaz, DEFAULT_ONTOLOGY)
        for t in cooccurrence_triples(ms, DEFAULT_ONTOLOGY):
            out.add((seg["seg_id"], t["subj"], t["pred"], t["obj"]))
    return out


def triple_pr(got: set[tuple], want: set[tuple], what: str) -> list[str]:
    """Exact precision and recall of the produced triples on the sample."""
    tp = len(got & want)
    precision = tp / len(got) if got else 1.0
    recall = tp / len(want) if want else 1.0
    if precision == 1.0 and recall == 1.0 and want:
        return []
    return [
        f"{what}: triple precision {precision:.4f} recall {recall:.4f} "
        f"({len(got)} produced, {len(want)} expected)"
    ]


def canonical_groups(rows: list[tuple[str, str]], family: dict[str, int]) -> list[str]:
    """Canonical map rows (text, canonical_id) must partition the surfaces
    exactly like the generator's families."""
    got = defaultdict(set)
    want = defaultdict(set)
    unknown = []
    for text, canon in rows:
        got[canon].add(text)
        if text not in family:
            unknown.append(text)
        else:
            want[family[text]].add(text)
    errors = []
    if unknown:
        errors.append(f"canonical map holds {len(unknown)} surfaces outside the gazetteer, e.g. {unknown[:3]}")
    got_p = {frozenset(v) for v in got.values()}
    want_p = {frozenset(v) for v in want.values()}
    if got_p != want_p:
        errors.append(
            f"canonical groups differ from the generator's families: {len(got_p)} groups "
            f"vs {len(want_p)} families, {len(got_p - want_p)} groups not a family"
        )
    return errors


def bfs(adj: dict[str, set[str]], seed: str, k: int) -> dict[str, int]:
    """Minimum hop count from ``seed`` to every node within ``k`` hops."""
    hops = {seed: 0}
    q = deque([seed])
    while q:
        u = q.popleft()
        if hops[u] == k:
            continue
        for v in adj.get(u, ()):
            if v not in hops:
                hops[v] = hops[u] + 1
                q.append(v)
    return hops


def undirected_adjacency(edges: list[tuple[str, str]]) -> dict[str, set[str]]:
    adj: dict[str, set[str]] = defaultdict(set)
    for s, d in edges:
        adj[s].add(d)
        adj[d].add(s)
    return adj


def khop_matches(rows: list[tuple[str, int]], adj, seed: str, k: int) -> list[str]:
    got = dict(rows)
    if len(got) != len(rows):
        return [f"k_hop from {seed}: {len(rows) - len(got)} duplicate nodes"]
    want = bfs(adj, seed, k)
    if got != want:
        wrong = sum(1 for n, h in got.items() if want.get(n) != h)
        return [f"k_hop from {seed}: {len(got)} nodes vs BFS {len(want)}, {wrong} wrong or extra"]
    return []


def top_degrees_match(rows: list[tuple[str, int]], edges: list[tuple[str, str]], n: int) -> list[str]:
    """Returned (node, degree) rows carry the true degree and form a top-n."""
    deg = Counter()
    for s, d in edges:
        deg[s] += 1
        deg[d] += 1
    want = sorted(deg.values(), reverse=True)[:n]
    bad = [node for node, d in rows if deg.get(node) != d]
    if bad or sorted((d for _, d in rows), reverse=True) != want:
        return [f"degrees top-{n}: {len(bad)} wrong degrees, got {[d for _, d in rows]} want {want}"]
    return []


def same_rows(got: list[tuple], want: list[tuple], what: str) -> list[str]:
    """Equal as multisets of rows (order-insensitive)."""
    if Counter(got) == Counter(want):
        return []
    return [f"{what} differs from the batch build: {len(got)} rows vs {len(want)}"]
