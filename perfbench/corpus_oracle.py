"""Sequential Python restatement of ``plans.corpus_build.run``'s kept set.

Each step restates the rule its operator documents, over plain Python
values, in the plan's order: quality and repetition gates, exact dedup,
near-dup clusters, semantic dedup, decontamination, token-budget sample.
It shares no code with the Spark operators (components are labelled by the
engine's pure-Python reference, ``oracle.pyoracle``), so an operator that
breaks its rule shows as lost precision or recall.

One step is a superset, not a copy: near-dup pairs are all pairs with word
3-gram Jaccard >= the threshold, while the plan verifies only the pairs its
MinHash bands propose. A near-duplicate the bands miss stays in the plan's
output and not here, so recall and precision can sit a little below 1.0.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from itertools import combinations

import numpy as np

STOPWORDS = {"the", "a", "and", "of"}  # textstats.STOPWORDS


def _shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams; a text shorter than n is one shingle."""
    toks = text.split(" ")
    grams = {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1)}
    grams.discard("")
    return grams


def _passes_gates(text: str, cfg) -> bool:
    toks = text.split(" ")
    n = len(toks)
    stop_ratio = sum(t in STOPWORDS for t in toks) / n
    punct_ratio = len(re.sub("[A-Za-z0-9 ]", "", text)) / len(text)
    q = min(1.0, n / 50.0) * (1.0 - stop_ratio) * (1.0 - punct_ratio)
    dup_word_frac = (n - len(set(toks))) / n
    return round(q, 6) >= cfg.min_quality and round(dup_word_frac, 6) <= cfg.max_dup_word_frac


def _exact_keepers(ids: list[str], text: dict[str, str]) -> list[str]:
    """One document per lowercased text: the smallest id as a string."""
    keeper: dict[str, str] = {}
    for d in ids:
        key = text[d].lower()
        keeper[key] = min(keeper.get(key, d), d)
    return [d for d in ids if keeper[text[d].lower()] == d]


def _near_dup_keepers(ids: list[str], text: dict[str, str], threshold: float) -> list[str]:
    """Connected components of the Jaccard >= threshold pair graph; the
    smallest id (as a string) of each component is kept."""
    from phenoscape_owl_tools_spark.oracle import pyoracle

    sh = {d: _shingles(text[d]) for d in ids}
    by_gram: dict[str, list[str]] = {}
    for d in ids:
        for g in sh[d]:
            by_gram.setdefault(g, []).append(d)
    # every posting list is in ``ids`` order, so a pair has one key
    inter = Counter()
    for docs in by_gram.values():
        inter.update(combinations(docs, 2))
    pairs = list(inter)
    k = np.fromiter(inter.values(), float, len(pairs))
    union = np.array([len(sh[a]) + len(sh[b]) for a, b in pairs]) - k
    edges = {pairs[i] for i in np.flatnonzero(np.round(k / union, 6) >= threshold)}
    label = pyoracle.connected_components(edges)
    return [d for d in ids if label.get(d, d) == d]


def _unit(vec) -> np.ndarray:
    """L2-normalized float64 vector; the norm is a sequential fold."""
    v = [float(x) for x in vec]
    acc = 0.0
    for x in v:
        acc += x * x
    norm = acc ** 0.5 or 1.0
    return np.array([x / norm for x in v])


def _semantic_dropped(vecs: dict[int, list[float]], k: int, threshold: float) -> set[int]:
    """Cascade SemDeDup: centroids are the k smallest ids' unit vectors; a
    vector is dropped if a smaller id in its cluster has cosine >= threshold."""
    ids = sorted(vecs)
    if not ids:
        return set()
    units = np.array([_unit(vecs[i]) for i in ids])
    cluster = np.argmax(np.round(units @ units[:k].T, 6), axis=1)
    dropped = set()
    for c in set(cluster.tolist()):
        members = np.flatnonzero(cluster == c)
        m = units[members]
        near = np.triu(np.round(m @ m.T, 6) >= threshold, k=1)
        dropped.update(ids[j] for j in members[near.any(axis=0)])
    return dropped


def _budget_sample(ids: list[str], text: dict[str, str], lang: dict[str, str],
                   budget: int) -> set[str]:
    """Per language, in md5(doc_id) order, every document that starts
    before the group's token budget is used up."""
    kept: set[str] = set()
    used: dict[str, int] = {}
    for d in sorted(ids, key=lambda d: hashlib.md5(d.encode()).hexdigest()):
        g = lang[d]
        if used.get(g, 0) < budget:
            kept.add(d)
        used[g] = used.get(g, 0) + len(text[d].split(" "))
    return kept


def expected_kept_ids(tables: dict, cfg) -> set[str]:
    """Doc ids (as strings) the corpus plan keeps for these input tables."""
    docs = tables["documents"].to_pydict()
    ids = [str(d) for d in docs["doc_id"]]
    text = dict(zip(ids, docs["text"]))
    lang = dict(zip(ids, docs["lang"]))

    kept = [d for d in ids if _passes_gates(text[d], cfg)]
    kept = _exact_keepers(kept, text)
    kept = _near_dup_keepers(kept, text, cfg.lsh_threshold)

    emb = tables["embeddings"].to_pydict()
    alive = set(kept)
    vecs = {v: e for v, e in zip(emb["vec_id"], emb["embedding"]) if str(v) in alive}
    dropped = {str(v) for v in _semantic_dropped(vecs, cfg.sem_k, cfg.sem_threshold)}
    kept = [d for d in kept if d not in dropped]

    bench = set().union(*(_shingles(t, cfg.decontam_ngram) for t in tables["benchmark"]["text"].to_pylist()))
    kept = [d for d in kept if len(_shingles(text[d], cfg.decontam_ngram) & bench) < cfg.decontam_min_overlap]
    return _budget_sample(kept, text, lang, cfg.budget_tokens)
