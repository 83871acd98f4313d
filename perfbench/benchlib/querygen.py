"""Seeded search traffic: a pool of distinct requests and per-client
request sequences that revisit the pool with zipf-distributed ranks.

The vocabulary comes from the indexed corpus itself (its most frequent
words, and adjacent pairs for phrases), so the program sees only the
generated inputs and every query family has matching documents."""

from __future__ import annotations

import random
from collections import Counter

FAMILIES = ("and", "or", "phrase", "not", "grouped")


def vocabulary(texts, n_words: int = 40, n_pairs: int = 40):
    """(frequent words, frequent adjacent pairs) of ``texts``, alphabetic
    tokens only so every word parses as a query term; ties are broken
    alphabetically so the result depends only on the corpus."""
    words, pairs = Counter(), Counter()
    for t in texts:
        toks = [w.lower() for w in t.split()] if t else []
        words.update(w for w in toks if w.isalpha())
        pairs.update(
            (a, b) for a, b in zip(toks, toks[1:])
            if a != b and a.isalpha() and b.isalpha()
        )
    top = sorted(words.items(), key=lambda kv: (-kv[1], kv[0]))[:n_words]
    top_pairs = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:n_pairs]
    return [w for w, _ in top], [p for p, _ in top_pairs]


def _query(rng: random.Random, family: str, words, pairs) -> str:
    a, b, c = rng.sample(words, 3)
    if family == "and":
        return f"{a} & {b}"
    if family == "or":
        return f"{a} | {b}"
    if family == "phrase":
        x, y = rng.choice(pairs)
        return f'"{x} {y}"'
    if family == "not":
        return f"{a} & ~{b}"
    return f"({a} | {b}) & {c}"


def request_pool(seed: int, words, pairs, n_queries: int = 20,
                 n_renders: int = 4) -> list[tuple[str, str]]:
    """Distinct requests: ("Q", query string) cycling through the query
    families, then ("R", "term term") rendered pages."""
    rng = random.Random(seed)
    pool: list[tuple[str, str]] = []
    seen: set[tuple[str, str]] = set()
    i = 0
    while len(pool) < n_queries:
        req = ("Q", _query(rng, FAMILIES[i % len(FAMILIES)], words, pairs))
        i += 1
        if req not in seen:
            seen.add(req)
            pool.append(req)
    while len(pool) < n_queries + n_renders:
        req = ("R", " ".join(rng.sample(words, 2)))
        if req not in seen:
            seen.add(req)
            pool.append(req)
    return pool


def zipf_sequence(seed: int, client: int, pool_size: int, n: int,
                  s: float = 1.1) -> list[int]:
    """``n`` pool indexes for one client, rank k drawn with weight 1/k^s
    over a seeded permutation of the pool."""
    rng = random.Random(seed * 1_000_003 + client)
    order = list(range(pool_size))
    rng.shuffle(order)
    weights = [1.0 / (k + 1) ** s for k in range(pool_size)]
    return [order[k] for k in rng.choices(range(pool_size), weights, k=n)]
