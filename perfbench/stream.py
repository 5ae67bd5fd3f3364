"""Seeded request streams (single client, closed loop).

A request is ``Req(kind, method, args, kwargs)``; ``key`` identifies
repeats. A stream is an infinite sequence of blocks (lists of
requests); the loop runs whole blocks until its time is up, so every
run sees the same mix of request kinds.

serve-web: the sixteen read kinds below come in blocks, each block a
seeded permutation of all kinds, so every run sees the same endpoint
mix. Within a kind, popularity is Zipf(s=1) over a pool of
``POOL_PER_KIND`` requests: 16 × 20 = 320 distinct requests, more than
the service's 256-entry response cache, and repeats stay rare.

serve-zipf: every request is a distinct bm25 search over the Zipf
dictionary, from five shapes in seeded-permuted blocks.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

WEB_KINDS = (
    "conj", "disj", "site", "offset", "legacy", "boost", "collapse",
    "bm25f", "blend", "snippets", "phrase", "boolean", "facets",
    "suggest", "complete", "statistics",
)
# kinds the relational reference (operators.search.search) answers
RELATIONAL_KINDS = ("conj", "disj", "site", "offset", "legacy", "boost",
                    "or_cc", "and_cc", "rare_and_common", "single_common",
                    "mid_pair", "churn")
# kind → endpoint reported per layer
ENDPOINT = {
    "conj": "search", "disj": "search", "site": "search",
    "offset": "search", "legacy": "search", "boost": "search",
    "collapse": "collapse", "bm25f": "bm25f", "blend": "blend",
    "snippets": "snippets", "phrase": "phrase", "boolean": "boolean",
    "facets": "facets", "suggest": "suggest", "complete": "complete",
    "statistics": "statistics",
}
ZIPF_KINDS = ("or_cc", "and_cc", "rare_and_common", "single_common",
              "mid_pair")
POOL_PER_KIND = 20
# the shapes of tests/queries.py that prune to nothing (stop-only,
# absent, >0.95-DF): the last three entries of the conjunctive pool
EMPTY_QUERIES = ("и в на", "nosuchwordxyz", "data")


@dataclass(frozen=True)
class Req:
    kind: str
    method: str
    args: tuple
    kwargs: tuple = field(default=())  # sorted (name, value) pairs

    @property
    def key(self):
        return (self.method, self.args, self.kwargs)

    @property
    def endpoint(self) -> str:
        return ENDPOINT.get(self.kind, "search")

    def call(self, svc):
        return getattr(svc, self.method)(*self.args, **dict(self.kwargs))

    def opt(self, name, default=None):
        return dict(self.kwargs).get(name, default)


def _search(kind, query, **kw) -> Req:
    return Req(kind, "search", (query,), tuple(sorted(kw.items())))


def df_bands(dictionary: list[tuple[str, int]], n_docs: int) -> dict:
    """Split the built dictionary into df bands (the engine prunes
    terms above 0.95·n_docs, so those never serve as query terms)."""
    terms = sorted(
        ((t, d) for t, d in dictionary if d <= 0.9 * n_docs),
        key=lambda td: (-td[1], td[0]),
    )
    n = len(terms)
    return {
        "common": [t for t, _ in terms[: max(2, n // 10)]],
        "mid": [t for t, _ in terms[n // 10: max(n // 10 + 2, n // 2)]],
        "rare": [t for t, _ in terms[n // 2:]] or [terms[-1][0]],
    }


def zipf_bands(dictionary: list[tuple[str, int]], n_docs: int) -> dict:
    """Zipf dictionary bands by document frequency: common lists hold
    ≥15% of the docs (thousands of postings, dozens of blocks), mid
    1–15%, rare the tail (≥2 docs)."""
    bands: dict[str, list[str]] = {"common": [], "mid": [], "rare": []}
    for t, d in sorted(dictionary):
        if d > 0.9 * n_docs or d < 2:
            continue
        band = ("common" if d >= 0.15 * n_docs
                else "mid" if d >= 0.01 * n_docs else "rare")
        bands[band].append(t)
    return bands


def cooccurring(rng: random.Random, doc_terms: list[list[str]],
                first: list[str], second: list[str]) -> tuple[str, str]:
    """Two distinct terms, one from each band, that occur in one sampled
    doc, so a conjunctive pair always matches and every request of a
    kind does comparable work."""
    a_band, b_band = set(first), set(second)
    for _ in range(200):
        terms = rng.choice(doc_terms)
        a = [t for t in terms if t in a_band]
        b = [t for t in terms if t in b_band]
        if a and b:
            x = rng.choice(a)
            b = [t for t in b if t != x]
            if b:
                return x, rng.choice(b)
    raise ValueError("no sampled doc holds terms of both bands")


def _edit(rng: random.Random, word: str) -> str:
    """One deletion or substitution (a did-you-mean input)."""
    i = rng.randrange(len(word))
    if len(word) > 3 and rng.random() < 0.5:
        return word[:i] + word[i + 1:]
    return word[:i] + rng.choice("aeiouаеиоу") + word[i + 1:]


def web_request(kind: str, rng: random.Random, bands: dict,
                texts: list[str], doc_terms: list[list[str]],
                host: str = "site") -> Req:
    common, mid, rare = bands["common"], bands["mid"], bands["rare"]
    c, m = cooccurring(rng, doc_terms, common, mid)
    pair = f"{c} {m}"
    if kind == "conj":
        return _search(kind, pair)
    if kind == "disj":
        return _search(kind, f"{m} {rng.choice(rare)}", conjunctive=False)
    if kind == "site":
        return _search(kind, c, site=f"{host}{rng.randrange(8)}.example")
    if kind == "offset":
        return _search(kind, c, offset=5 * rng.randint(1, 3), limit=10)
    if kind == "legacy":
        return _search(kind, pair, mode="legacy")
    if kind == "boost":
        return _search(kind, f"{c}^{rng.choice((2, 3))} {m}",
                       conjunctive=False)
    if kind == "collapse":
        return _search(kind, pair, collapse=2, conjunctive=False)
    if kind == "bm25f":
        return _search(kind, pair, mode="bm25f", conjunctive=False)
    if kind == "blend":
        return _search(kind, pair, blend=1.0)
    if kind == "snippets":
        return _search(kind, pair, snippets=True, limit=10)
    if kind == "phrase":
        words = rng.choice(texts).split()
        i = rng.randrange(len(words) - 1)
        return Req(kind, "phrase", (f"{words[i]} {words[i + 1]}",))
    if kind == "boolean":
        c2 = rng.choice(common)
        form = rng.choice(("({a} OR {b}) AND {c}", "{a} AND NOT {b}",
                           "{a} OR {b}"))
        return Req(kind, "boolean", (form.format(a=c, b=m, c=c2),))
    if kind == "facets":
        return Req(kind, "facets", (pair,), (("conjunctive", False),))
    if kind == "suggest":
        return Req(kind, "suggest", (_edit(rng, rng.choice(common + mid)),))
    if kind == "complete":
        t = rng.choice(common + mid)
        return Req(kind, "complete", (t[: rng.randint(1, 3)],))
    if kind == "statistics":
        return Req(kind, "statistics", ())
    raise ValueError(kind)


def web_blocks(seed: int, bands: dict, texts: list[str],
               doc_terms: list[list[str]]):
    rng = random.Random(f"web-stream-{seed}")
    pool = {}
    for kind in WEB_KINDS:
        reqs: list[Req] = []
        size = 1 if kind == "statistics" else POOL_PER_KIND
        if kind == "conj":  # the empty shapes, at fixed popularity ranks
            size -= len(EMPTY_QUERIES)
        for _ in range(50 * size):
            r = web_request(kind, rng, bands, texts, doc_terms)
            if r not in reqs:
                reqs.append(r)
            if len(reqs) == size:
                break
        if kind == "conj":
            reqs += [_search(kind, q) for q in EMPTY_QUERIES]
        pool[kind] = reqs
    while True:
        kinds = list(WEB_KINDS)
        rng.shuffle(kinds)
        yield [
            rng.choices(pool[k], [1.0 / (i + 1) for i in range(len(pool[k]))])[0]
            for k in kinds
        ]


def zipf_blocks(seed: int, bands: dict, doc_terms: list[list[str]]):
    """Distinct bm25 searches over the Zipf dictionary (cache bypassed
    by construction); conjunctive pairs co-occur in a sampled doc."""
    rng = random.Random(f"zipf-stream-{seed}")
    common, mid, rare = bands["common"], bands["mid"], bands["rare"]
    seen: set = set()

    def make(kind: str) -> Req:
        if kind == "single_common":
            return _search(kind, rng.choice(common),
                           limit=rng.choice((10, 20, 50)))
        if kind == "or_cc":
            a, b = rng.sample(common, 2)
            return _search(kind, f"{a} {b}", conjunctive=False)
        first, second = {"and_cc": (common, common),
                         "rare_and_common": (rare, common),
                         "mid_pair": (mid, mid)}[kind]
        a, b = cooccurring(rng, doc_terms, first, second)
        return _search(kind, f"{a} {b}")

    def fresh(kind: str) -> Req:
        for _ in range(1000):
            r = make(kind)
            if r.key not in seen:
                break
        seen.add(r.key)
        return r

    while True:
        kinds = list(ZIPF_KINDS)
        rng.shuffle(kinds)
        yield [fresh(k) for k in kinds]
