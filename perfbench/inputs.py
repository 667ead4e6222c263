"""Seeded inputs: corpus id ranges, query texts and request schedules.

The engine only ever sees what these functions generate. The same
seed gives the same corpus, query sequence, class mix and append id
ranges; the seed only chooses among inputs of the same shape.
"""

from __future__ import annotations

import random

from bugzilla_etl_spark.corpus import KEYWORDS

N_DOCS = 5000  # base corpus size (~8.5 MB content, ~250k postings)
APPEND_DOCS = 1000  # docs per incremental_update in the ingest cycle
K = 10
HOT_POOL = KEYWORDS[:16]  # the Zipf head: df close to N_DOCS each
N_REPOS = 53  # corpus.py: doc i belongs to repo i % 53
N_SYMS = 40  # corpus.py: 40 identifiers per repo

# one scheduling block of the search workload, as (class, query terms):
# the search window runs whole blocks, so every run sends exactly these
# classes and term counts; the seed shuffles the order within a block
# and picks the terms
SEARCH_BLOCK = (
    [("hot", n) for n in (1, 2, 3, 4)] * 3
    + [("rare", n) for n in (1, 2, 3)] * 2
    + [("batch8", 8)] * 2
)


class Inputs:
    def __init__(self, seed: int):
        self.seed = seed
        self.rng = random.Random(seed)
        # doc #i is a pure function of i (corpus.py); the seed picks
        # which id range forms the base corpus
        self.base_start = (seed % 1000) * 100_000

    def append_start(self, batch: int) -> int:
        """First doc id of the ``batch``-th appended batch: fresh ids
        just after the base range, never reused within a run."""
        return self.base_start + N_DOCS + batch * APPEND_DOCS

    def hot(self, n_terms: int) -> str:
        return " ".join(self.rng.sample(HOT_POOL, n_terms))

    def uniq(self) -> str:
        """A df=1 token of the base range: corpus.py plants uniq_<i> in
        docs with i % 10 == 3."""
        return f"uniq_{self.base_start + 10 * self.rng.randrange(N_DOCS // 10) + 3}"

    def rare(self, n_terms: int) -> str:
        """A per-repo identifier (df ~ N_DOCS/53) plus df=1 tokens."""
        sym = f"r{self.rng.randrange(N_REPOS)}_sym{self.rng.randrange(N_SYMS)}"
        return " ".join([sym] + [self.uniq() for _ in range(n_terms - 1)])

    def request(self, cls: str, n_terms: int) -> list[str]:
        """One request; a batch8 request holds 8 hot queries of 1-4 terms."""
        if cls == "hot":
            return [self.hot(n_terms)]
        if cls == "rare":
            return [self.rare(n_terms)]
        return [self.hot(1 + j % 4) for j in range(8)]

    def search_block(self) -> list[tuple[str, list[str]]]:
        """The next block of (class, query texts) search requests."""
        block = list(SEARCH_BLOCK)
        self.rng.shuffle(block)
        return [(cls, self.request(cls, n)) for cls, n in block]

    def ingest_queries(self) -> list[str]:
        """The fixed hot+rare set queried after every append. The
        df=1-only queries match no appended segment, so the term blooms
        prune those segments."""
        return (
            [self.hot(n) for n in (1, 2, 3, 4)]
            + [self.rare(n) for n in (1, 3)]
            + [self.uniq(), f"{self.uniq()} {self.uniq()}"]
        )
