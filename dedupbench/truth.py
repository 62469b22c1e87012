"""Ground truth and pair-level scoring.

Web workloads: a true duplicate pair is two distinct texts from one
generator group whose exact character 5-shingle Jaccard is at least the
config threshold, or a page and the page it embeds verbatim (the pairs the
containment pass is on to find; the embedding page is a group of its
own).  Only within-group pairs are ever compared, and each
group's Jaccards are computed against one base shingle set (every text is
the base minus a few shingles plus a few new ones), so a group of a few
hundred near-identical texts costs milliseconds.

Scores are over distinct texts, not pages: byte-identical pages are merged
by the pipeline's exact tier, and ``copies_share_cluster`` checks that
separately.  They are macro averages, so that a mirror group of a few
hundred near-identical texts (10^5 true pairs) weighs no more than a
near-duplicate family of three: recall is the mean over generator groups
of the share of the group's true pairs found inside one cluster, and
precision the mean over predicted clusters of the share of the cluster's
text pairs that are true pairs.

Parity pass: the truth is ``oracle.cluster_greedy`` with edges from
Hamming-1 variant enumeration (linear in keys, unlike the quadratic
``oracle.build_edges``).
"""

from __future__ import annotations

from collections import Counter, defaultdict
from collections.abc import Hashable

ACGT = "ACGT"


def shingles(text: str, k: int) -> frozenset[str]:
    return frozenset(text[i:i + k] for i in range(len(text) - k + 1))


def true_pairs(pages, k: int,
               threshold: float) -> dict[int, list[tuple[str, str]]]:
    """group -> (text_a, text_b) for every within-group pair of distinct
    texts with exact k-shingle Jaccard >= threshold, and every (page,
    embedded page) pair; groups without a pair are left out.  ``pages``
    need ``text``, ``group`` and ``embeds`` attributes."""
    by_group: dict[int, dict[str, None]] = defaultdict(dict)
    out: dict[int, list[tuple[str, str]]] = {}
    for p in pages:
        by_group[p.group][p.text] = None
        if p.embeds:
            out.setdefault(p.group, []).append((p.text, p.embeds))
    for group, texts in by_group.items():
        if len(texts) < 2:
            continue
        ts = list(texts)
        base = shingles(ts[0], k)
        # A_i = (base - missing_i) | extra_i with extra_i disjoint from base
        sizes, missing, extra = [], [], []
        for t in ts:
            s = shingles(t, k)
            sizes.append(len(s))
            missing.append(base - s)
            extra.append(s - base)
        for i in range(len(ts)):
            for j in range(i + 1, len(ts)):
                inter = (len(base) - len(missing[i] | missing[j])
                         + len(extra[i] & extra[j]))
                union = sizes[i] + sizes[j] - inter
                if union and inter / union >= threshold:
                    out.setdefault(group, []).append((ts[i], ts[j]))
    return out


def group_scores(true: dict[int, list[tuple[str, str]]],
                 cluster_of: dict[str, Hashable]) -> tuple[list[float], list[float]]:
    """(per-group recalls, per-cluster precisions) for a text -> cluster
    map; every text of ``true`` must be mapped.  Clusters of one text make
    no pair and get no precision."""
    recalls: list[float] = []
    hits: Counter[Hashable] = Counter()
    for pairs in true.values():
        found = 0
        for a, b in pairs:
            if cluster_of[a] == cluster_of[b]:
                found += 1
                hits[cluster_of[a]] += 1
        recalls.append(found / len(pairs))
    precisions = [hits[c] / (n * (n - 1) // 2)
                  for c, n in Counter(cluster_of.values()).items() if n > 1]
    return recalls, precisions


def mean(values: list[float]) -> float:
    """The mean; nothing to score scores 1.0."""
    return sum(values) / len(values) if values else 1.0


def copies_share_cluster(pages, cluster_of_page: dict[str, Hashable]) -> bool:
    """True when all pages with one text carry one cluster id."""
    seen: dict[str, Hashable] = {}
    for p in pages:
        c = cluster_of_page[p.url]
        if seen.setdefault(p.text, c) != c:
            return False
    return True


def oracle_clusters(reads, word_length: int) -> dict[str, int]:
    """key -> cluster id from the reference greedy clustering (directional,
    one mismatch), with neighbours found by enumerating every Hamming-1
    variant of each key.  Keys with a char outside ACGT are unusable."""
    from humid_spark.oracle import cluster_greedy

    counts: Counter[str] = Counter()
    for r in reads:
        key = r.text[:word_length]
        if len(key) == word_length and all(c in ACGT for c in key):
            counts[key] += 1
    adj: dict[str, list[str]] = {}
    for key in counts:
        nbs = []
        for i, c in enumerate(key):
            for alt in ACGT:
                if alt != c:
                    v = key[:i] + alt + key[i + 1:]
                    if v in counts:
                        nbs.append(v)
        adj[key] = nbs
    cluster_idx, clusters = cluster_greedy(dict(counts), adj)
    return {k: clusters[i].id for k, i in cluster_idx.items()}
