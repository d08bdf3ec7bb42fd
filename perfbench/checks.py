"""Output checks. Each returns a list of failure messages (empty = pass).

Cluster labelings are compared as partitions: two labelings agree when
they put the same docs together, whatever the label values.
"""

from __future__ import annotations

import numpy as np

from perfbench.inputs import JACCARD_MIN, jaccard, shingles


def canonical(doc_ids: np.ndarray, labels: np.ndarray) -> np.ndarray:
    """Per doc (same order as ``doc_ids``), the smallest doc_id of its
    cluster."""
    _, inv = np.unique(labels, return_inverse=True)
    first = np.full(inv.max() + 1 if len(inv) else 0, np.iinfo(np.int64).max)
    np.minimum.at(first, inv, doc_ids)
    return first[inv]


def components(n_docs: int, pairs: np.ndarray) -> np.ndarray:
    """Union-find over doc ids 0..n-1: label = smallest member id."""
    parent = np.arange(n_docs)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs.tolist():
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return np.array([find(i) for i in range(n_docs)], dtype=np.int64)


def label_by_doc(doc_ids: np.ndarray, labels: np.ndarray, n_docs: int) -> np.ndarray:
    out = np.full(n_docs, -1, dtype=np.int64)
    out[doc_ids] = labels
    return out


def pair_recall(labels: np.ndarray, ref_pairs: np.ndarray) -> float:
    """Share of reference pairs whose two docs share a cluster label
    (``labels`` indexed by doc id)."""
    if len(ref_pairs) == 0:
        return 1.0
    return float(np.mean(labels[ref_pairs[:, 0]] == labels[ref_pairs[:, 1]]))


def planted_groups_whole(labels: np.ndarray, truth, ref_labels: np.ndarray) -> list[str]:
    """Every planted exact-dup group sits in one cluster, and the
    boilerplate group is split exactly as the reference pairs split it.

    The boilerplate docs are one 30-token template with one token
    replaced, so most of their pairs fall below the Jaccard threshold and
    the group is many clusters under the pipeline's own semantics;
    ``ref_labels`` are the components of the reference pairs."""
    kinds = np.array(truth.column("kind").to_pylist(), dtype=object)
    gids = truth.column("group_id").to_numpy()
    ids = truth.column("doc_id").to_numpy()
    bad = []
    for g in np.unique(gids[kinds == "exact"]):
        members = ids[(kinds == "exact") & (gids == g)]
        n = len(np.unique(labels[members]))
        if n != 1:
            bad.append(f"exact group {g} ({len(members)} docs) split over {n} clusters")
    members = ids[kinds == "boilerplate"]
    got = canonical(members, labels[members])
    want = canonical(members, ref_labels[members])
    if not np.array_equal(got, want):
        bad.append(
            f"boilerplate group ({len(members)} docs): {len(np.unique(got))} clusters, "
            f"reference {len(np.unique(want))}, {int(np.count_nonzero(got != want))} docs differ"
        )
    return bad


def recall_at_least(recall: float, floor: float = 0.99) -> list[str]:
    return [] if recall >= floor else [f"pair_recall {recall:.4f} < {floor}"]


def same_partition(a: np.ndarray, b: np.ndarray, what: str) -> list[str]:
    """``a`` and ``b`` are canonical labels indexed by doc id."""
    diff = int(np.count_nonzero(a != b))
    return [] if diff == 0 else [f"{what}: {diff} docs clustered differently"]


def reverify_sample(pairs: np.ndarray, texts: list[str], sample: int = 200) -> list[str]:
    """A fixed sample of stored pairs (every k-th of the sorted pairs)
    recomputed in pure Python must reach the Jaccard threshold."""
    if len(pairs) == 0:
        return ["no stored pairs to re-verify"]
    srt = pairs[np.lexsort((pairs[:, 1], pairs[:, 0]))]
    pick = srt[:: max(1, len(srt) // sample)]
    bad = [
        (int(a), int(b))
        for a, b in pick.tolist()
        if jaccard(shingles(texts[a]), shingles(texts[b])) < JACCARD_MIN
    ]
    return [f"{len(bad)} of {len(pick)} sampled stored pairs below {JACCARD_MIN}: {bad[:3]}"] if bad else []
