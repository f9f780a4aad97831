"""Output checks. Each returns a ``Verdict``: whether the output is
correct, the workload's quality score (0..1000) and, when wrong, why.

A run in which any pipeline stage reports ``resumed`` is wrong: every
run gets a fresh checkpoint directory and run id, so a resumed stage
means a previous run's output was read instead of computed.
"""

from __future__ import annotations

import re
from dataclasses import dataclass


@dataclass
class Verdict:
    ok: bool
    quality_milli: int
    reason: str = ""


def resumed_stages(info: dict) -> list[str]:
    return sorted(s for s, v in info.items() if v.get("resumed"))


def canon(text: str) -> str:
    """Python twin of ``functions.canonicalize.canon_text`` for the
    generator's ASCII-spaced text: lower, trim spaces, collapse spaces."""
    return re.sub(r"\s+", " ", text.lower().strip(" "))


def expected_partition(turns, n: int = 2, variant: str = "transposition"):
    """The clusters a correct linkage run produces on a generated corpus.

    ``turns`` holds ``(turn_key, entity, text)``. Turns of one planted
    entity are linked when their canonical texts are within ``n``
    (``functions.distance.distance_py``); the expected clusters are the
    connected components. Turns of different entities are never linked:
    their bases differ by a random 8-letter tag. Returns a list of
    frozensets of turn keys."""
    from liblevenshtein_rust_spark.functions.distance import distance_py
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    by_entity: dict = {}
    for key, entity, text in turns:
        by_entity.setdefault(entity, {}).setdefault(canon(text), []).append(key)
        parent[key] = key
    for texts in by_entity.values():
        for keys in texts.values():           # equal texts: one term
            for k in keys[1:]:
                parent[find(k)] = find(keys[0])
        items = list(texts.items())
        for i, (ta, ka) in enumerate(items):
            for tb, kb in items[i + 1:]:
                if distance_py(ta, tb, variant) <= n:
                    parent[find(kb[0])] = find(ka[0])
    groups: dict = {}
    for key in parent:
        groups.setdefault(find(key), set()).add(key)
    return sorted((frozenset(g) for g in groups.values()), key=min)


def partition_of(labels: dict) -> list[frozenset]:
    """Clusters of a ``{key: label}`` map."""
    groups: dict = {}
    for key, label in labels.items():
        groups.setdefault(label, set()).add(key)
    return sorted((frozenset(g) for g in groups.values()), key=min)


def pairwise_f1_milli(pred: list[frozenset], truth: dict) -> int:
    """Pairwise F1 (x1000, floor) of clusters ``pred`` against the
    ``{key: entity}`` truth, computed in Python."""
    def pairs(n):
        return n * (n - 1) // 2
    true_pairs = sum(pairs(len(g)) for g in partition_of(truth))
    pred_pairs = sum(pairs(len(g)) for g in pred)
    tp = 0
    for g in pred:
        counts: dict = {}
        for key in g:
            counts[truth[key]] = counts.get(truth[key], 0) + 1
        tp += sum(pairs(c) for c in counts.values())
    return (2000 * tp) // max(pred_pairs + true_pairs, 1)


def linkage_verdict(f1_row, labels: dict, expected: list[frozenset],
                    truth: dict, info: dict) -> Verdict:
    """``f1_row``: the engine's ``pairwise_f1`` row for the run;
    ``labels``: the run's ``{turn_key: entity_id}``; ``expected``: the
    planted clusters; ``truth``: ``{turn_key: planted entity}``."""
    quality = int(f1_row["f1_milli"])
    want = pairwise_f1_milli(expected, truth)
    if resumed_stages(info):
        return Verdict(False, quality, f"resumed: {resumed_stages(info)}")
    if set(labels) != set(truth):
        return Verdict(False, quality, "turns missing from the output")
    if partition_of(labels) != expected:
        return Verdict(False, quality, "clusters differ from the planted ones")
    if quality != want:
        return Verdict(False, quality, f"f1_milli {quality} != planted {want}")
    return Verdict(True, quality)


def dedup_verdict(got: dict, expected: dict, info: dict) -> Verdict:
    """``got`` and ``expected`` map each surviving doc id to n_removed.
    Quality is the Jaccard agreement of the two (doc_id, n_removed) sets."""
    g, e = set(got.items()), set(expected.items())
    quality = (1000 * len(g & e)) // max(len(g | e), 1)
    if resumed_stages(info):
        return Verdict(False, quality, f"resumed: {resumed_stages(info)}")
    if g != e:
        return Verdict(False, quality,
                       f"{len(g - e)} unexpected and {len(e - g)} missing survivors")
    return Verdict(True, quality)


def lookup_verdict(results, batches, terms: dict, n: int = 2) -> Verdict:
    """``results[i]``: rows ``(q_id, q_text, term_id, term, distance)``
    returned for ``batches[i]`` (rows ``(q_id, q_text, src_term_id)``).
    Every planted source word must be found, and every returned row must
    carry the sent query, the dictionary term and the exact distance.
    Quality is the recall of the planted matches."""
    from liblevenshtein_rust_spark.functions.distance import distance_py
    planted = found = 0
    reason = ""
    for rows, batch in zip(results, batches):
        sent = {q: t for q, t, _ in batch}
        hits = set()
        for q_id, q_text, term_id, term, dist in rows:
            hits.add((q_id, term_id))
            if sent.get(q_id) != q_text or terms.get(term_id) != term:
                reason = reason or f"row ({q_id}, {term_id}) has wrong texts"
            elif dist != distance_py(q_text, term) or dist > n:
                reason = reason or f"row ({q_id}, {term_id}) has distance {dist}"
        for q_id, _, src in batch:
            planted += 1
            found += (q_id, src) in hits
        if len(hits) != len(rows):
            reason = reason or "duplicate rows"
    quality = (1000 * found) // max(planted, 1)
    if found != planted:
        reason = reason or f"{planted - found} planted matches missing"
    return Verdict(not reason, quality, reason)
