"""Brute-force O(n²) oracles (SURVEY.md §5.4) — driver-side, tiny inputs only.

Expected results are derived from the generated *data*, never from the
corpus construction, so generator and pipeline cannot share a bug.
"""

from __future__ import annotations

from collections import defaultdict
from difflib import SequenceMatcher
from itertools import combinations

SEP = "\n"


def assemble_locally(rows) -> dict[str, str]:
    """rows: (conv_id, turn_idx, role, text, tool, ts) tuples."""
    turns: dict[str, list[tuple[int, str]]] = defaultdict(list)
    for r in rows:
        turns[r[0]].append((r[1], r[3] or ""))
    return {
        cid: SEP.join(t for _, t in sorted(ts)) for cid, ts in turns.items()
    }


def exact_clusters_oracle(docs: dict[str, str]) -> dict[str, str]:
    """conv_id -> cluster_id (min conv_id of its exact-content group),
    only for convs in groups of size >= 2."""
    by_doc: dict[str, list[str]] = defaultdict(list)
    for cid, doc in docs.items():
        by_doc[doc].append(cid)
    out = {}
    for members in by_doc.values():
        if len(members) >= 2:
            root = min(members)
            for m in members:
                out[m] = root
    return out


def shingles(doc: str, k: int = 3) -> set[str]:
    words = doc.split()
    if len(words) < k:
        return {" ".join(words)} if words else set()
    return {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    if not a and not b:
        return 1.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def near_pairs_oracle(
    docs: dict[str, str], tau: float, k: int = 3
) -> set[tuple[str, str]]:
    """All unordered pairs with word-k-shingle Jaccard >= tau."""
    items = sorted(docs.items())
    shs = {cid: shingles(doc, k) for cid, doc in items}
    out = set()
    for i in range(len(items)):
        for j in range(i + 1, len(items)):
            a, b = items[i][0], items[j][0]
            if jaccard(shs[a], shs[b]) >= tau:
                out.add((a, b))
    return out


def span_runs_oracle(
    docs: dict[str, str], min_tokens: int
) -> dict[tuple[str, str], int]:
    """(a, b) -> longest shared contiguous run of ``doc.split()`` tokens,
    for every unordered pair sharing a run of >= ``min_tokens`` tokens.

    A pair shares such a run iff it shares one of the ``min_tokens``-token
    windows indexed here; its length is difflib's longest matching block."""
    toks = {cid: doc.split() for cid, doc in docs.items()}
    by_window: dict[tuple[str, ...], set[str]] = defaultdict(set)
    for cid, ws in toks.items():
        for i in range(len(ws) - min_tokens + 1):
            by_window[tuple(ws[i : i + min_tokens])].add(cid)
    pairs = {
        p for members in by_window.values()
        for p in combinations(sorted(members), 2)
    }
    out = {}
    for a, b in pairs:
        ta, tb = toks[a], toks[b]
        m = SequenceMatcher(None, ta, tb, autojunk=False).find_longest_match(
            0, len(ta), 0, len(tb)
        )
        out[(a, b)] = m.size
    return out


def components(pairs) -> dict[str, str]:
    """conv_id -> smallest conv_id of its connected component, by
    union-find over ``(conv_id_a, conv_id_b)`` pairs."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
