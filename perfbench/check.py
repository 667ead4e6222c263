"""Correctness checks: oracle rank parity, build identity, planted faults.

Every search answer is compared with ``oracle.BM25Oracle``; every build
is compared with the run's reference build. Nothing here starts Spark
except the index_checksum / verify_sha256 fallbacks, which take the
session as an argument.
"""

from __future__ import annotations

import hashlib
import os
import re
from collections import Counter

ATOL = 1e-6
_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def rank_parity(got: list, want_full: list, k: int, atol: float = ATOL) -> bool:
    """Top-k rank identity with the exhaustive oracle.

    ``want_full`` is the oracle's uncut ranking (score desc, doc_id asc).
    Scores must agree position by position within ``atol``; every id
    above the k-th score must carry the oracle's score for that id.
    At the k boundary any members of the tied group may fill the cut,
    as in bench.py's ``_rank_parity``, but each must truly score the
    boundary value."""
    want = want_full[:k]
    if len(got) != len(want):
        return False
    if not want:
        return True
    if any(abs(g[1] - w[1]) > atol for g, w in zip(got, want)):
        return False
    boundary = want[-1][1]
    full = dict(want_full)
    for doc_id, score in got:
        if doc_id not in full or abs(full[doc_id] - score) > atol:
            return False
    above_got = {d for d, s in got if abs(s - boundary) > atol}
    above_want = {d for d, s in want if abs(s - boundary) > atol}
    return above_got == above_want and len({d for d, _ in got}) == len(got)


class OracleCache:
    """Uncut oracle rankings memoized by query text; cleared whenever
    the oracle's document set changes."""

    def __init__(self, oracle):
        self.oracle = oracle
        self._memo: dict[str, list] = {}

    def full(self, text: str) -> list:
        if text not in self._memo:
            self._memo[text] = self.oracle.search(text, k=1 << 30)
        return self._memo[text]

    def check(self, text: str, got: list, k: int) -> bool:
        return rank_parity(got, self.full(text), k)

    def add(self, rows) -> None:
        """Extend the oracle with (doc_id, content) rows."""
        for doc_id, text in rows:
            self.oracle.add(int(doc_id), text)
        self._memo.clear()

    def remove(self, rows) -> None:
        """Drop (doc_id, content) rows added earlier."""
        from bugzilla_etl_spark.tokenize import py_analyze

        for doc_id, text in rows:
            doc_id = int(doc_id)
            for term in Counter(py_analyze(text, self.oracle.chain)):
                plist = self.oracle.postings[term]
                del plist[doc_id]
                if not plist:
                    del self.oracle.postings[term]
            del self.oracle.doc_len[doc_id]
        self._memo.clear()


def data_files(root: str) -> list[str]:
    """Data files under ``root``: no hidden checksum files, no
    ``_SUCCESS`` markers."""
    return sorted(
        os.path.join(d, f)
        for d, _dirs, files in os.walk(root)
        for f in files
        if not f.startswith((".", "_"))
    )


def live_segment_files(index_dir: str) -> list[str]:
    from bugzilla_etl_spark.index.manifest import IndexManifest

    segs = IndexManifest.load(index_dir).segment_dirs(index_dir)
    return [p for seg in segs for p in data_files(seg)]


def index_bytes(index_dir: str) -> int:
    """Bytes of the committed segments' data files."""
    return sum(os.path.getsize(p) for p in live_segment_files(index_dir))


def index_fingerprint(index_dir: str) -> str:
    """sha256 over (path, bytes) of the live segment files, with the
    per-write UUIDs Spark puts in part-file names removed. Two builds
    of one corpus write byte-identical files, so equal fingerprints
    imply equal ``index_checksum``; unequal ones fall back to it."""
    h = hashlib.sha256()
    for p in live_segment_files(index_dir):
        h.update(_UUID.sub("", os.path.relpath(p, index_dir)).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


class BuildChecker:
    """Each build must verify its sha256 column against the corpus and
    have the reference build's ``index_checksum``. The reference build
    pays both full checks; later builds with the reference's byte
    fingerprint are identical to it, others pay both checks too."""

    def __init__(self, spark, corpus, n_docs: int):
        self.spark, self.corpus, self.n_docs = spark, corpus, n_docs
        self.ref_fp: str | None = None
        self.ref_checksum: str | None = None

    def _full(self, index_dir: str) -> str:
        from bugzilla_etl_spark.index.build import verify_sha256
        from bugzilla_etl_spark.index.checksum import index_checksum

        if verify_sha256(self.spark, self.corpus, index_dir) != self.n_docs:
            raise AssertionError("indexed doc count differs from the corpus")
        return index_checksum(self.spark, index_dir)

    def check(self, index_dir: str) -> bool:
        fp = index_fingerprint(index_dir)
        try:
            if self.ref_fp is None:
                self.ref_checksum = self._full(index_dir)
                self.ref_fp = fp
                return True
            return fp == self.ref_fp or self._full(index_dir) == self.ref_checksum
        except AssertionError:
            return False


def planted_fault_caught(text: str, got: list, cache: OracleCache, k: int) -> bool:
    """Plant a wrong score (off by 1e-4) and a wrong id into a passing
    answer; the checker must reject both."""
    if not got or not cache.check(text, got, k):
        return False
    bad_score = [(got[0][0], got[0][1] + 1e-4)] + got[1:]
    bad_id = [(got[0][0] ^ 1, got[0][1])] + got[1:]
    return not cache.check(text, bad_score, k) and not cache.check(text, bad_id, k)


def self_test() -> None:
    """Checker self-test on a small pure-Python oracle (no Spark):
    identical answers pass, a boundary-tie substitution passes, and
    planted wrong scores, ids, orders and lengths fail."""
    from bugzilla_etl_spark.corpus import generate_corpus_pdf
    from bugzilla_etl_spark.oracle import build_oracle

    pdf = generate_corpus_pdf(120)
    cache = OracleCache(build_oracle(enumerate(pdf["content"])))
    k = 10
    for text in ["return int", "r5_sym3", "uniq_13 r7_sym1", "int if for"]:
        full = cache.full(text)
        got = full[:k]
        if not cache.check(text, got, k):
            raise SystemExit(f"self-test: exact answer rejected for {text!r}")
        if not planted_fault_caught(text, got, cache, k):
            raise SystemExit(f"self-test: planted fault missed for {text!r}")
        if len(got) >= 2 and got[0][1] != got[1][1]:
            swapped = [got[1], got[0]] + got[2:]
            if cache.check(text, swapped, k):
                raise SystemExit(f"self-test: swapped order accepted for {text!r}")
        if cache.check(text, got[:-1], k) and len(got) == k:
            raise SystemExit(f"self-test: short answer accepted for {text!r}")
    # boundary tie: 15 identical docs tie for 10 slots. Any 10 of them
    # pass; a doc from below the tie does not.
    ties = OracleCache(
        build_oracle([(i, "alpha beta") for i in range(15)] + [(99, "alpha gamma gamma")])
    )
    full = ties.full("beta")
    if not ties.check("beta", full[5:15], k):
        raise SystemExit("self-test: boundary tie substitution rejected")
    fa = ties.full("alpha")
    if ties.check("alpha", [(99, fa[0][1])] + fa[1:10], k):
        raise SystemExit("self-test: tie-group outsider accepted")
    # add/remove round trip restores the oracle exactly
    before = cache.full("return int")
    rows = list(zip(range(10_000, 10_005), generate_corpus_pdf(5, 10_000)["content"]))
    cache.add(rows)
    cache.remove(rows)
    if cache.full("return int") != before:
        raise SystemExit("self-test: oracle add/remove is not a round trip")
