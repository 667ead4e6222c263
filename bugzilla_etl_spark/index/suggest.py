"""ES suggesters over the index dictionary — sparkless plan-time reads.

- ``term_suggest``: the ES *term suggester* (spell correction). For
  each analyzed input token, candidate corrections come from the same
  banded dictionary range scan as fuzzy queries (query._fuzzy_scan:
  the postings.scan_dict prefix_length range read + length band +
  banded DP), ranked by (edit distance asc, doc freq desc, term asc) —
  the deterministic analog of ES's similarity-then-frequency sort.
  ``suggest_mode`` mirrors ES: "missing" suggests only for tokens
  absent from the dictionary (default), "popular" only suggests
  more-frequent terms, "always" always suggests.

- ``complete_suggest``: the ES *completion suggester* shape
  (type-ahead). ES builds a dedicated FST with per-entry weights; here
  the index dictionary IS the completion source and doc frequency is
  the weight — the postings.scan_dict range read (one term-sorted
  scan per segment, parquet-stat pushdown, df summed across segments)
  and its top-terms ranking: top-``size`` by (df desc, term asc).

Both run driver-side without a Spark job: the dictionary is plan-time
data (the same discipline as explain_search / the fuzzy-prefix
expansions), so a suggester call costs milliseconds and scales with
the RANGE scanned, not the corpus. Reference parity: the reference
delegates its search box to ES, whose suggesters these mirror
(SURVEY.md §3.4).
"""

from __future__ import annotations

import os

import numpy as np

from ..tokenize import py_analyze
from .manifest import IndexManifest
from .postings import scan_dict, top_terms
from .query import _fuzzy_scan, _lookup_terms

_SUGGEST_MODES = ("missing", "popular", "always")


def term_suggest(
    index_dir: str,
    text: str,
    field: str = "content",
    max_edits: int = 2,
    prefix_length: int = 1,
    size: int = 5,
    suggest_mode: str = "missing",
    min_doc_freq: int = 0,
) -> list[tuple[str, list[tuple[str, int, int]]]]:
    """Spell-correction suggestions per analyzed token of ``text``:
    [(token, [(suggestion, df, distance), ...])] in first-seen token
    order. A token's own dictionary entry is never suggested back."""
    if suggest_mode not in _SUGGEST_MODES:
        raise ValueError(
            f"suggest_mode must be one of {_SUGGEST_MODES}: {suggest_mode!r}"
        )
    if max_edits < 1:
        raise ValueError(f"max_edits must be >= 1: {max_edits}")
    index_dir = os.path.abspath(index_dir)
    m = IndexManifest.load(index_dir)
    chain = m.field_chain(field)
    tokens = list(dict.fromkeys(py_analyze(text, chain)))
    own_dfs = _lookup_terms(m, index_dir, tokens, field)
    out: list[tuple[str, list[tuple[str, int, int]]]] = []
    for tok in tokens:
        own = int(own_dfs.get(tok, 0))
        if suggest_mode == "missing" and own > 0:
            out.append((tok, []))
            continue
        cands, dfs, dists = _fuzzy_scan(
            m, index_dir, tok, field, max_edits, prefix_length
        )
        keep = np.ones(len(cands), dtype=bool)
        for i, c in enumerate(cands):
            if str(c) == tok:
                keep[i] = False
        if min_doc_freq > 0:
            keep &= dfs >= min_doc_freq
        if suggest_mode == "popular":
            keep &= dfs > own
        cands, dfs, dists = cands[keep], dfs[keep], dists[keep]
        order = np.lexsort((cands, -dfs, dists))[: int(size)]
        out.append(
            (
                tok,
                [
                    (str(cands[i]), int(dfs[i]), int(dists[i]))
                    for i in order
                ],
            )
        )
    return out


def complete_suggest(
    index_dir: str,
    prefix: str,
    field: str = "content",
    size: int = 10,
) -> list[tuple[str, int]]:
    """Type-ahead completions for ``prefix``: top-``size`` dictionary
    terms starting with it, weighted by doc frequency (df desc, term
    asc). Empty prefix is rejected — that's a vocabulary dump, not a
    completion."""
    if not prefix:
        raise ValueError("completion needs a non-empty prefix")
    index_dir = os.path.abspath(index_dir)
    m = IndexManifest.load(index_dir)
    m.field_chain(field)  # validates the field exists
    return top_terms(*scan_dict(m, index_dir, field, prefix=prefix), int(size))
