"""Canonical index content checksum.

The reference's correctness discipline is golden-output diffing between
runs (stabilize(), parse_bug_history.js:444-445). For the index, the
canonical form is the sorted logical content of all committed segments:
(shard, tb, salt, field, term, block_id, gaps, tfs, dls, max_impact) —
all-docs rows included — plus the docs dimension. Two builds are
equivalent iff their checksums match — used by the kill/resume and
parallelism-determinism tests.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .build import read_segment_union
from .manifest import IndexManifest


def index_checksum(spark: SparkSession, index_dir: str) -> str:
    m = IndexManifest.load(index_dir)
    seg_dirs = m.segment_dirs(index_dir)
    blocks = read_segment_union(spark, seg_dirs, "postings").select(
        "shard",
        "tb",
        "salt",
        "field",
        "term",
        "block_id",
        F.sha2(F.col("gaps"), 256).alias("g"),
        F.sha2(F.col("tfs"), 256).alias("t"),
        F.sha2(F.col("dls"), 256).alias("d"),
        F.round("max_impact", 9).alias("mi"),
    )
    rows = blocks.orderBy("shard", "tb", "salt", "field", "term", "block_id").collect()
    h = hashlib.sha256()
    for r in rows:
        h.update(
            f"{r['shard']}|{r['tb']}|{r['salt']}|{r['field']}|{r['term']}|{r['block_id']}|"
            f"{r['g']}|{r['t']}|{r['d']}|{r['mi']}\n".encode()
        )
    docs = read_segment_union(spark, seg_dirs, "docs").select(
        "doc_id", "sha256", "doc_len"
    )
    for r in docs.orderBy("doc_id").collect():
        h.update(f"{r['doc_id']}|{r['sha256']}|{r['doc_len']}\n".encode())
    return h.hexdigest()
