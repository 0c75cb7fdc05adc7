"""Output checks, all linear in the output size and run outside timed regions.

Pairwise F1 is computed from dictionary lookups (label of each mention,
cluster of each mention) on a deterministic labeled-pair sample; it never
materializes same-cluster pairs, whose count is quadratic in cluster size.
"""

from __future__ import annotations

import hashlib
import random
from collections import Counter

NIL_ID = "-1"


def sample_labeled_pairs(
    gold: list[tuple[str, list[str]]], seed: int
) -> list[tuple[str, str, bool]]:
    """Deterministic labeled pairs from (mention_id, labels) rows, linear in
    the number of mentions.

    Positives: the mentions of each non-NIL label, in a seeded order, each
    paired with the next one. Negatives: each mention paired with one
    seeded partner that shares no non-NIL label. A pair is a match iff the
    two label sets intersect on a non-NIL id (``fixtures.labeled_pairs``)."""
    rng = random.Random(seed)
    labels = {m: {x for x in ls if x != NIL_ID} for m, ls in gold}
    ids = sorted(labels)
    by_label: dict[str, list[str]] = {}
    for m in ids:
        for lb in sorted(labels[m]):
            by_label.setdefault(lb, []).append(m)
    seen: set[tuple[str, str]] = set()
    out = []

    def add(a: str, b: str, match: bool) -> None:
        a, b = min(a, b), max(a, b)
        if a != b and (a, b) not in seen:
            seen.add((a, b))
            out.append((a, b, match))

    for lb in sorted(by_label):
        members = by_label[lb][:]
        rng.shuffle(members)
        for x, y in zip(members, members[1:]):
            add(x, y, True)
    if len(ids) > 1:
        for m in ids:
            other = ids[rng.randrange(len(ids))]
            if not labels[m] & labels[other]:
                add(m, other, False)
    return out


def lookup_prf(pairs: list[tuple[str, str, bool]], cluster_of: dict[str, str]) -> dict[str, float]:
    """Same contract as ``operators.metrics.pairwise_prf(cluster_pairs(a), labeled)``:
    a pair is predicted positive iff both mentions are assigned and share a
    cluster id."""
    tp = fp = fn = 0
    for a, b, match in pairs:
        ca, cb = cluster_of.get(a), cluster_of.get(b)
        predicted = ca is not None and ca == cb
        tp += match and predicted
        fp += (not match) and predicted
        fn += match and not predicted
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": precision, "recall": recall, "f1": f1}


def membership_error(rows: list[tuple[str, str]], mention_ids: set[str]) -> str | None:
    """Every input mention is in exactly one cluster, and nothing else is."""
    counts = Counter(m for m, _ in rows)
    dup = [m for m, c in counts.items() if c > 1]
    if dup:
        return f"{len(dup)} mentions in more than one cluster, e.g. {dup[0]}"
    missing = mention_ids - counts.keys()
    if missing:
        return f"{len(missing)} mentions in no cluster, e.g. {min(missing)}"
    extra = counts.keys() - mention_ids
    if extra:
        return f"{len(extra)} unknown members, e.g. {min(extra)}"
    return None


def text_error(extracted: dict[str, str], gold: dict[str, str]) -> str | None:
    """Extracted text equals the generator's text, byte for byte, for every url."""
    if extracted.keys() != gold.keys():
        return f"extracted {len(extracted)} urls, generated {len(gold)}"
    bad = [u for u, t in gold.items() if extracted[u] != t]
    if bad:
        return f"{len(bad)} pages differ from the generated text, e.g. {min(bad)}"
    return None


def fingerprint(rows: list[tuple[str, str]]) -> str:
    h = hashlib.sha256()
    for m, c in sorted(rows):
        h.update(f"{m}\t{c}\n".encode())
    return h.hexdigest()
