"""Per-segment Bloom filters: membership pruning without scans.

Two index structures use these (both VERDICT-r2 scale items):

- **docs blooms** (one per doc-shard, disjoint key spaces): the
  incremental append path asks "is any of this batch's doc_ids already
  indexed?" — with blooms the common case (a batch of genuinely new
  docs) answers WITHOUT scanning any segment's docs dimension, where
  the previous plan anti-joined every increment against the full docs
  dim (at 10^9 indexed docs that scan ran every 10 minutes, the
  reference's own cadence — configuration/crontab.txt:2).
- **term bloom** (one per segment): the driver-side dictionary lookup
  (`postings.scan_dict` with a term list) skips segments none of whose
  terms match the query, keeping lookup cost flat as segment count
  grows.

Format: ``<seg_dir>/bloom.npz`` with arrays ``docs_s<shard>`` (uint8
bitsets, power-of-two bits) and ``terms``. Sidecar, not manifest: the
bitsets scale with segment size (16 bits/key), so they live next to
the segment files; the manifest stays small. A missing sidecar is
always legal — every consumer degrades to the unpruned path, so
pre-upgrade segments keep working.

Standard double-hashing construction (Kirsch–Mitzenmacher): k probe
positions ``h1 + i*h2 (mod m)`` from two splitmix64-style mixes of the
key. 16 bits/key with 8 probes gives FPR ~= 5e-4; a false positive
only costs a confirming scan, never correctness.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

BITS_PER_KEY = 16
N_HASHES = 8
_S1 = np.uint64(0x9E3779B97F4A7C15)
_S2 = np.uint64(0xD1B54A32D192ED03)


def _mix(x: np.ndarray, seed: np.uint64) -> np.ndarray:
    """splitmix64 finalizer (public-domain construction); wrapping
    uint64 arithmetic is intentional."""
    x = (x + seed).astype(np.uint64)
    x = x ^ (x >> np.uint64(30))
    x = x * np.uint64(0xBF58476D1CE4E5B9)
    x = x ^ (x >> np.uint64(27))
    x = x * np.uint64(0x94D049BB133111EB)
    x = x ^ (x >> np.uint64(31))
    return x


def _m_bits(n_keys: int) -> int:
    target = max(n_keys * BITS_PER_KEY, 512)
    return 1 << int(np.ceil(np.log2(target)))


def build_bits(keys_u64: np.ndarray, m_bits: int | None = None) -> np.ndarray:
    """uint64 keys -> uint8 bitset of ``m_bits`` (power of two) bits."""
    keys_u64 = np.asarray(keys_u64, dtype=np.uint64)
    m = m_bits or _m_bits(len(keys_u64))
    assert m & (m - 1) == 0, "m_bits must be a power of two"
    bits = np.zeros(m // 8, dtype=np.uint8)
    if not len(keys_u64):
        return bits
    mask = np.uint64(m - 1)
    h1 = _mix(keys_u64, _S1)
    h2 = _mix(keys_u64, _S2) | np.uint64(1)
    for i in range(N_HASHES):
        idx = (h1 + np.uint64(i) * h2) & mask
        np.bitwise_or.at(bits, (idx >> np.uint64(3)).astype(np.int64),
                         np.left_shift(1, (idx & np.uint64(7)).astype(np.int64)).astype(np.uint8))
    return bits


def or_bits(parts: list[np.ndarray]) -> np.ndarray:
    """OR partial bitsets of identical size (disjoint key partitions)."""
    out = parts[0].copy()
    for p in parts[1:]:
        out |= p
    return out


def maybe_contains(bits: np.ndarray, keys_u64: np.ndarray) -> np.ndarray:
    """bool per key: False = definitely absent, True = maybe present."""
    keys_u64 = np.asarray(keys_u64, dtype=np.uint64)
    out = np.ones(len(keys_u64), dtype=bool)
    if not len(keys_u64) or not len(bits):
        return out
    mask = np.uint64(len(bits) * 8 - 1)
    h1 = _mix(keys_u64, _S1)
    h2 = _mix(keys_u64, _S2) | np.uint64(1)
    for i in range(N_HASHES):
        idx = (h1 + np.uint64(i) * h2) & mask
        bit = (bits[(idx >> np.uint64(3)).astype(np.int64)]
               >> (idx & np.uint64(7)).astype(np.uint8)) & 1
        out &= bit.astype(bool)
        if not out.any():
            break
    return out


def ids_to_u64(ids_i64: np.ndarray) -> np.ndarray:
    return np.asarray(ids_i64, dtype=np.int64).view(np.uint64)


def hash_strings(strs) -> np.ndarray:
    """Stable uint64 per string (blake2b-8) — process-independent, used
    for term keys at bloom build and query lookup."""
    return np.fromiter(
        (
            int.from_bytes(
                hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(), "little"
            )
            for s in strs
        ),
        dtype=np.uint64,
        count=len(strs),
    )


def hash_field_terms(fields, terms) -> np.ndarray:
    """Field-qualified term keys (multi-field indexes store every field
    variant's vocabulary in one dict): key = '<field>\\x00<term>'.
    ``fields`` is a string (applied to all terms) or a per-term list."""
    if isinstance(fields, str):
        fields = [fields] * len(terms)
    return hash_strings([f"{f}\x00{t}" for f, t in zip(fields, terms)])


# ------------------------------------------------------------- sidecar
#: (path, mtime) -> terms bitset; the query path consults the TERM
#: bloom of every candidate segment on every batch, so re-reading (and
#: worse, also decompressing the docs bitsets) per call would make the
#: driver cost grow with segment count — exactly what the bloom exists
#: to prevent. mtime keying invalidates naturally on segment rewrite.
_TERMS_CACHE: dict[tuple[str, float], "np.ndarray | None"] = {}


def load_terms_bloom(seg_dir: str) -> "np.ndarray | None":
    """Load ONLY the term bitset of a segment's sidecar (lazy npz member
    access — the docs bitsets are never touched), cached by mtime."""
    path = os.path.join(seg_dir, SegmentBlooms.FILE)
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        return None
    key = (path, mtime)
    if key not in _TERMS_CACHE:
        # evict stale mtimes of the SAME path first: a long-lived driver
        # compacting every 10 minutes would otherwise accrete one dead
        # bitset per rewrite for the process lifetime (ADVICE r3)
        for k in [k for k in _TERMS_CACHE if k[0] == path]:
            del _TERMS_CACHE[k]
        with np.load(path) as z:
            _TERMS_CACHE[key] = z["terms"] if "terms" in z.files else None
    return _TERMS_CACHE[key]


class SegmentBlooms:
    """The per-segment sidecar: docs blooms keyed by shard + term bloom."""

    FILE = "bloom.npz"

    def __init__(self, docs: dict[int, np.ndarray], terms: np.ndarray | None):
        self.docs = docs
        self.terms = terms

    @classmethod
    def load(cls, seg_dir: str) -> "SegmentBlooms | None":
        path = os.path.join(seg_dir, cls.FILE)
        if not os.path.exists(path):
            return None
        with np.load(path) as z:
            docs = {
                int(k.split("_s", 1)[1]): z[k]
                for k in z.files
                if k.startswith("docs_s")
            }
            terms = z["terms"] if "terms" in z.files else None
        return cls(docs, terms)

    def save(self, seg_dir: str) -> None:
        path = os.path.join(seg_dir, self.FILE)
        tmp = path + ".tmp.npz"
        arrays = {f"docs_s{s}": b for s, b in self.docs.items()}
        if self.terms is not None:
            arrays["terms"] = self.terms
        np.savez(tmp, **arrays)
        os.replace(tmp, path)

    def maybe_docs(self, ids_i64: np.ndarray, n_shards: int) -> np.ndarray:
        """bool per id against the matching shard's bloom; ids whose
        shard has no bloom conservatively report True."""
        ids_i64 = np.asarray(ids_i64, dtype=np.int64)
        out = np.ones(len(ids_i64), dtype=bool)
        shards = (ids_i64 % n_shards).astype(np.int64)  # == Spark pmod
        for s in np.unique(shards):
            bits = self.docs.get(int(s))
            if bits is None:
                continue
            sel = shards == s
            out[sel] = maybe_contains(bits, ids_to_u64(ids_i64[sel]))
        return out

    def maybe_any_term(self, terms: list[str], fld: str = "content") -> bool:
        if self.terms is None:
            return True
        return bool(
            maybe_contains(self.terms, hash_field_terms(fld, terms)).any()
        )


def write_segment_blooms(
    spark,
    seg_dir: str,
    n_shards: int,
    n_docs_hint: int | None = None,
    n_terms_hint: int | None = None,
) -> None:
    """Build + save the sidecar from the segment's written docs/dict.

    Docs blooms are built distributed (one applyInPandas group per
    doc-shard — shards are disjoint, so no OR-reduce); the term bloom
    ORs per-partition partials of the dict scan (partials are m/8 bytes
    each; at extreme vocabularies this becomes a treeAggregate, same
    math). One small job each over already-written columnar data.

    ``n_docs_hint`` / ``n_terms_hint`` (normally observed for free
    during the docs/dict writes) skip the count jobs used only to SIZE
    the bitsets — doc_ids are a uniform hash, so a 2x-headroom uniform
    per-shard size is within one power-of-two of the exact one; an
    undersized bloom only raises FPR, never correctness.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    docs_path = os.path.join(seg_dir, "docs")
    dict_path = os.path.join(seg_dir, "dict")

    # Small segments (the normal incremental increment): build the
    # sidecar driver-side with two pyarrow column reads — zero Spark
    # jobs. Large segments (initial builds, big merges) use the
    # distributed path below.
    if n_docs_hint is not None and n_docs_hint <= 2_000_000:
        import pyarrow.dataset as ds

        tbl = ds.dataset(docs_path, format="parquet").to_table(
            columns=["shard", "doc_id"]
        )
        shards = tbl["shard"].to_numpy()
        ids = tbl["doc_id"].to_numpy()
        m_u = _m_bits(2 * max(1, -(-len(ids) // n_shards)))
        docs_blooms = {
            int(s): build_bits(ids_to_u64(ids[shards == s]), m_u)
            for s in np.unique(shards)
        }
        terms_bloom = None
        if os.path.isdir(dict_path):
            dtbl = ds.dataset(dict_path, format="parquet").to_table(
                columns=["field", "term"]
            )
            keys = hash_field_terms(
                dtbl["field"].to_pylist(), dtbl["term"].to_pylist()
            )
            terms_bloom = build_bits(keys, _m_bits(len(keys)))
        SegmentBlooms(docs_blooms, terms_bloom).save(seg_dir)
        return

    if n_docs_hint is not None:
        m_uniform = _m_bits(2 * max(1, -(-n_docs_hint // n_shards)))
        m_by_shard: dict[int, int] = {}
    else:
        m_uniform = None
        m_by_shard = {
            int(r["shard"]): _m_bits(int(r["n"]))
            for r in spark.read.parquet(docs_path)
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    def shard_bits(key, pdf):
        s = int(key[0])
        m = m_uniform if m_uniform is not None else m_by_shard[s]
        bits = build_bits(ids_to_u64(pdf["doc_id"].to_numpy()), m)
        return pd.DataFrame({"shard": [s], "bits": [bits.tobytes()]})

    rows = (
        spark.read.parquet(docs_path)
        .select("shard", "doc_id")
        .groupBy("shard")
        .applyInPandas(
            shard_bits,
            schema=T.StructType(
                [
                    T.StructField("shard", T.IntegerType()),
                    T.StructField("bits", T.BinaryType()),
                ]
            ),
        )
        .collect()
    )
    docs_blooms = {
        int(r["shard"]): np.frombuffer(bytes(r["bits"]), dtype=np.uint8)
        for r in rows
    }

    terms_bloom = None
    if os.path.isdir(dict_path):
        ddf = spark.read.parquet(dict_path).select("field", "term")
        n_terms = n_terms_hint if n_terms_hint is not None else ddf.count()
        m = _m_bits(n_terms)

        def part_bits(it):
            for pdf in it:
                keys = hash_field_terms(
                    pdf["field"].tolist(), pdf["term"].tolist()
                )
                bits = build_bits(keys, m)
                yield pd.DataFrame({"bits": [bits.tobytes()]})

        parts = [
            np.frombuffer(bytes(r["bits"]), dtype=np.uint8)
            for r in ddf.mapInPandas(
                part_bits,
                schema=T.StructType([T.StructField("bits", T.BinaryType())]),
            ).collect()
        ]
        terms_bloom = or_bits(parts) if parts else build_bits(np.array([], dtype=np.uint64), m)

    SegmentBlooms(docs_blooms, terms_bloom).save(seg_dir)
