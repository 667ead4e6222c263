"""Query-time access to a segment's postings: one reader, one lazy list.

Every bucket scorer (BM25 MaxScore, phrase, conjunctive/msm, bool,
multi_match, nested, aggregations, export) reads the same thing: the
block rows of a few (field, term) pairs in one (segment, sb) bucket,
decoded lazily block by block. ``read_bucket`` is the one place that
knows the on-disk shape:

- the hive ``sb`` partition filter and the term/field row-group
  pushdown;
- the legacy (pre-multi-field) segment rule: no ``field`` column means
  the rows ARE the primary ``content`` field, and other fields have no
  postings there;
- the block columns (doc range, ``max_impact`` bound, varint buffers);
- the positional payload check: a request for positions on a segment
  or block built without them raises;
- the ``(salt, shard)`` sub-list split: one sb holds several shards,
  and salted/sharded sub-lists have OVERLAPPING doc ranges, so the
  sorted non-overlap invariant that block lookup relies on holds only
  WITHIN one sub-list. A doc lives in exactly one sub-list of a term.

``exclusion`` folds must_not terms into the tombstone set (excluded
from results, statistics untouched — ES filter context).
"""

from __future__ import annotations

import os
from itertools import repeat

import numpy as np

from ..codec import delta_decode, u64_to_doc_id, varint_decode

#: block columns every scorer reads (``poss`` joins when positions are
#: requested)
_COLUMNS = ["term", "salt", "shard", "n", "first_doc", "last_doc",
            "max_impact", "gaps", "tfs", "dls"]


class BlockList:
    """One (salt, shard) sub-list of a term in one bucket: sorted,
    non-overlapping blocks with lazy per-block decode + cache.

    ``decode`` yields (docs, impacts, doc lengths) — what MaxScore and
    every membership probe need; ``positions`` decodes the positional
    payload separately and only when a phrase asks for it, so scorers
    that never ask pay nothing for it. ``bmaxs`` are the stored block
    max-impact bounds (times the caller's avgdl-drift scale), without
    idf."""

    __slots__ = ("idf", "k1", "b", "avgdl", "firsts", "lasts", "bmaxs",
                 "bufs", "n_postings", "_dec", "_pos")

    def __init__(self, idf, k1, b, avgdl):
        self.idf, self.k1, self.b, self.avgdl = idf, k1, b, avgdl
        self.firsts, self.lasts, self.bmaxs, self.bufs = [], [], [], []
        self.n_postings = 0
        self._dec: dict[int, tuple] = {}
        self._pos: dict[int, tuple] = {}

    def add_block(self, first_u64, last_u64, bmax, n, gaps, tfs, dls, poss=None):
        self.firsts.append(first_u64)
        self.lasts.append(last_u64)
        self.bmaxs.append(bmax)
        self.bufs.append((gaps, tfs, dls, poss))
        self.n_postings += n

    def seal(self):
        order = np.argsort(np.array(self.firsts, dtype=np.uint64), kind="stable")
        self.firsts = np.array(self.firsts, dtype=np.uint64)[order]
        self.lasts = np.array(self.lasts, dtype=np.uint64)[order]
        self.bmaxs = np.array(self.bmaxs, dtype=np.float64)[order]
        self.bufs = [self.bufs[i] for i in order]

    def decode(self, i: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(docs u64, BM25 impacts, doc lengths) of block ``i``."""
        hit = self._dec.get(i)
        if hit is not None:
            return hit
        g, tfb, dlb, _ = self.bufs[i]
        docs = delta_decode(varint_decode(g))
        tf = varint_decode(tfb).astype(np.float64)
        dl = varint_decode(dlb).astype(np.float64)
        imp = self.idf * (
            tf * (self.k1 + 1.0)
            / (tf + self.k1 * (1.0 - self.b + self.b * dl / self.avgdl))
        )
        out = self._dec[i] = (docs, imp, dl)
        return out

    def positions(self, i: int) -> tuple[np.ndarray, np.ndarray]:
        """(flat absolute positions, per-posting offsets) of block ``i``:
        posting j owns ``pos[off[j]:off[j+1]]``."""
        hit = self._pos.get(i)
        if hit is not None:
            return hit
        _, tfb, _, pz = self.bufs[i]
        tf = varint_decode(tfb).astype(np.int64)
        # per-posting absolute positions: cumsum restarting at each
        # posting (first value absolute): pos[j] = cp[j] - cp[start-1]
        pp = varint_decode(pz).astype(np.int64)
        off = np.concatenate(([0], np.cumsum(tf)))
        starts = off[:-1]
        cp = np.cumsum(pp)
        base = np.zeros(len(pp), dtype=np.int64)
        if len(starts):
            adj = cp[starts - 1]
            adj[starts == 0] = 0
            base = np.repeat(adj, tf)
        out = self._pos[i] = (cp - base, off)
        return out

    def block_of(self, cand: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(block index, found) per candidate — blocks are sorted and
        non-overlapping within a sub-list, so searchsorted suffices."""
        bi = np.searchsorted(self.firsts, cand, side="right") - 1
        ok = (bi >= 0) & (cand <= self.lasts[np.clip(bi, 0, None)])
        return bi, ok


class TermPostings:
    """All (salt, shard) sub-lists of one (field, term) in one bucket."""

    __slots__ = ("subs", "n_postings")

    def __init__(self):
        self.subs: dict[tuple[int, int], BlockList] = {}
        self.n_postings = 0

    def seal(self):
        for sl in self.subs.values():
            sl.seal()
            self.n_postings += sl.n_postings

    @property
    def ub(self) -> float:
        # a doc lives in exactly one sub-list, so the term's per-doc
        # upper bound is the MAX over sub-lists
        return max(float(sl.idf * sl.bmaxs.max()) for sl in self.subs.values())

    def _blocks(self) -> list[tuple]:
        return [
            sl.decode(i)
            for _, sl in sorted(self.subs.items())
            for i in range(len(sl.firsts))
        ]

    def decode_all(self) -> tuple[np.ndarray, np.ndarray]:
        """(docs, impacts) of every block, sub-lists in key order."""
        blocks = self._blocks()
        return (
            np.concatenate([d for d, _, _ in blocks]),
            np.concatenate([imp for _, imp, _ in blocks]),
        )

    def all_docs(self) -> np.ndarray:
        """Sorted doc ids (u64) of the whole list."""
        return np.sort(np.concatenate([d for d, _, _ in self._blocks()]))

    def imp_at(self, cand: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(membership mask, impact — 0 where absent) per candidate;
        decodes ONLY blocks that contain candidates."""
        found = np.zeros(len(cand), dtype=bool)
        imp = np.zeros(len(cand), dtype=np.float64)
        for sl in self.subs.values():
            bi, ok = sl.block_of(cand)
            for i in np.unique(bi[ok]):
                sel = np.flatnonzero(ok & (bi == i))
                docs, imps, _ = sl.decode(int(i))
                pos = np.clip(np.searchsorted(docs, cand[sel]), 0, len(docs) - 1)
                hit = docs[pos] == cand[sel]
                found[sel[hit]] = True
                imp[sel[hit]] = imps[pos[hit]]
        return found, imp

    def positions_bulk(
        self, cand: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Ragged gather of every candidate's position list in ONE pass:
        returns (ci, pos, dl) flat arrays where ``ci`` is the index into
        ``cand`` owning each position, sorted by (ci, pos) ascending.
        Python iterates distinct (sub-list, block) pairs — never docs
        (VERDICT r4 #2: a per-doc loop was 10^5 Python iterations per
        bucket for a two-common-term phrase)."""
        ci_chunks: list[np.ndarray] = []
        pos_chunks: list[np.ndarray] = []
        dl_chunks: list[np.ndarray] = []
        for sl in self.subs.values():
            bi, ok = sl.block_of(cand)
            for i in np.unique(bi[ok]):
                sel = np.flatnonzero(ok & (bi == i))
                docs, _, dl = sl.decode(int(i))
                pos_flat, off = sl.positions(int(i))
                j = np.searchsorted(docs, cand[sel])
                inb = j < len(docs)
                hit = inb & (docs[np.clip(j, 0, len(docs) - 1)] == cand[sel])
                sel, j = sel[hit], j[hit]
                if not len(sel):
                    continue
                lens = (off[j + 1] - off[j]).astype(np.int64)
                total = int(lens.sum())
                # flat[base+local] walks each posting's [off[j], off[j+1])
                # slice — the standard ragged-gather index trick, no loop
                base = np.repeat(off[j], lens)
                local = np.arange(total, dtype=np.int64) - np.repeat(
                    np.cumsum(lens) - lens, lens
                )
                pos_chunks.append(pos_flat[base + local])
                ci_chunks.append(np.repeat(sel, lens))
                dl_chunks.append(np.repeat(dl[j], lens))
        if not ci_chunks:
            e = np.empty(0, dtype=np.int64)
            return e, e, np.empty(0, dtype=np.float64)
        ci = np.concatenate(ci_chunks)
        pos = np.concatenate(pos_chunks)
        dls = np.concatenate(dl_chunks)
        # stable by ci keeps each doc's positions ascending (they are
        # ascending within every chunk; a doc never spans chunks)
        order = np.argsort(ci, kind="stable")
        return ci[order], pos[order].astype(np.int64), dls[order]


def read_bucket(
    index_dir: str,
    seg_id: str,
    sb: int,
    want: dict[str, list[str]],
    idfs: dict[tuple[str, str], float],
    avgdls: dict[str, float],
    k1: float,
    b: float,
    positions: frozenset = frozenset(),
    bound_scale: float = 1.0,
) -> dict[tuple[str, str], TermPostings] | None:
    """One pushed-down postings scan of bucket (``seg_id``, ``sb``) for
    ``want`` = {field: terms} -> sealed {(field, term): TermPostings}.

    Each list scores with ITS field's idf (``idfs``, 0 when absent —
    must_not lists are read for doc ids only) and avgdl. ``positions``:
    the (field, term) pairs whose positional payload is kept; a request
    on a segment without one raises. ``bound_scale`` multiplies the
    stored block bounds (avgdl drift, see search_many). None = a legacy
    segment that holds none of the requested fields; {} = nothing
    requested or nothing found."""
    import pyarrow.dataset as ds

    if not any(want.values()):
        return {}
    data = ds.dataset(
        os.path.join(index_dir, "segments", seg_id, "postings"),
        format="parquet",
        partitioning="hive",
    )
    names = data.schema.names
    has_field = "field" in names
    if not has_field:
        if "content" not in want:
            return None
        want = {"content": want["content"]}
    if positions and "poss" not in names:
        raise ValueError(
            f"segment {seg_id} has no positional payload; rebuild with "
            "build_index(positions=True)"
        )
    fexpr = None
    for f in sorted(want):
        e = ds.field("term").isin(sorted(set(want[f])))
        if has_field:
            e = (ds.field("field") == f) & e
        fexpr = e if fexpr is None else fexpr | e
    # the field column is read only when rows can belong to several
    multi = len(want) > 1
    cols = (["field"] if multi else []) + _COLUMNS
    if positions:
        cols.append("poss")
    tbl = data.to_table(filter=(ds.field("sb") == sb) & fexpr, columns=cols)
    out: dict[tuple[str, str], TermPostings] = {}
    if tbl.num_rows == 0:
        return out
    pdf = tbl.to_pandas()
    for f, t, sa, sh, n, fd, ld, mi, g, tfb, dlb, pz in zip(
        pdf["field"] if multi else repeat(next(iter(want))),
        pdf["term"], pdf["salt"], pdf["shard"], pdf["n"],
        pdf["first_doc"], pdf["last_doc"], pdf["max_impact"],
        pdf["gaps"], pdf["tfs"], pdf["dls"],
        pdf["poss"] if positions else repeat(None),
    ):
        key = (f, t)
        tp = out.get(key)
        if tp is None:
            tp = out[key] = TermPostings()
        skey = (int(sa), int(sh))
        sl = tp.subs.get(skey)
        if sl is None:
            sl = tp.subs[skey] = BlockList(idfs.get(key, 0.0), k1, b, avgdls[f])
        if key not in positions:
            pz = None
        elif pz is None:
            raise ValueError(
                "positional payload missing for term blocks; index was "
                "not built with positions=True"
            )
        sl.add_block(
            np.int64(fd).view(np.uint64), np.int64(ld).view(np.uint64),
            float(mi) * bound_scale, int(n), g, tfb, dlb, pz,
        )
    for tp in out.values():
        tp.seal()
    return out


def read_field(
    index_dir: str,
    seg_id: str,
    sb: int,
    fld: str,
    terms: list[str],
    idfs: dict[str, float],
    avgdl: float,
    k1: float,
    b: float,
    positions=(),
    bound_scale: float = 1.0,
) -> dict[str, TermPostings] | None:
    """``read_bucket`` for one field, keyed by term; ``positions`` names
    the terms whose positional payload is kept."""
    got = read_bucket(
        index_dir, seg_id, sb, {fld: terms},
        {(fld, t): w for t, w in idfs.items()}, {fld: avgdl}, k1, b,
        frozenset((fld, t) for t in positions), bound_scale,
    )
    return None if got is None else {t: tp for (_f, t), tp in got.items()}


def exclusion(lists: dict, neg, tombstones: np.ndarray) -> np.ndarray:
    """Tombstones plus every doc holding one of the ``neg`` keys (must_not
    terms) — the set each scorer drops before its top-k."""
    parts = [lists[key].all_docs() for key in neg if key in lists]
    if not parts:
        return tombstones
    return np.union1d(tombstones, u64_to_doc_id(np.concatenate(parts)))
