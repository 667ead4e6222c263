"""Postings format 2 next to format 1.

Format 2 (what build, append and merge write) stores segment-local doc
ordinals in term blocks and no dls; each (field, shard, salt) group's
all-docs rows (term ``""``) hold its doc ids and doc lengths. A format-1
segment (doc-id gaps and one dl per posting, no all-docs rows) still
answers bit for bit like its format-2 twin, on both routes, and a merge
rewrites it to format 2 — compaction is the one migration path."""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from bugzilla_etl_spark.codec import delta_decode, encode_sorted_docs, varint_decode, varint_encode
from bugzilla_etl_spark.corpus import generate_corpus_pdf
from bugzilla_etl_spark.index import (
    Bool,
    bool_search,
    build_index,
    compact_tiered,
    incremental_update,
    merge_segments,
    phrase_search_many,
    search_many,
)
from bugzilla_etl_spark.index.build import BLOCK_SCHEMA, POSTINGS_FORMAT, prepare_docs
from bugzilla_etl_spark.index.manifest import IndexManifest
from bugzilla_etl_spark.oracle import build_oracle

CFG = dict(n_shards=4, n_tb=4, n_salts=2, n_sb=2, block_size=16, positions=True)
BLOCK_KEY = ["field", "term", "shard", "salt", "block_id"]
QUERIES = [(0, "return int fn", 10), (1, "self", 10), (2, "struct int", 5),
           (3, "def return value", 10)]


def to_format1(index_dir: str) -> None:
    """Rewrite every segment of ``index_dir`` in place as format 1: each
    term block's ordinals become u64 doc-id gaps (first absolute) and
    its dls one doc length per posting, from its group's all-docs rows,
    which are dropped; manifest entries lose their ``format``."""
    m = IndexManifest.load(index_dir)
    for seg_dir in m.segment_dirs(index_dir):
        for f in glob.glob(os.path.join(seg_dir, "postings", "**", "*.parquet"),
                           recursive=True):
            t = pq.read_table(f)
            rows = t.to_pylist()
            lists: dict = {}
            for r in sorted((r for r in rows if r["term"] == ""), key=lambda r: r["block_id"]):
                ids, dls = lists.setdefault((r["field"], r["salt"], r["shard"]), ([], []))
                ids.append(delta_decode(varint_decode(r["gaps"])))
                dls.append(varint_decode(r["dls"]))
            lists = {k: (np.concatenate(i), np.concatenate(d)) for k, (i, d) in lists.items()}
            out = []
            for r in rows:
                if r["term"] == "":
                    continue
                ids, dls = lists[(r["field"], r["salt"], r["shard"])]
                ords = delta_decode(varint_decode(r["gaps"]))
                r["gaps"] = encode_sorted_docs(ids[ords])
                r["dls"] = varint_encode(dls[ords])
                out.append(r)
            pq.write_table(pa.Table.from_pylist(out, schema=t.schema), f)
            crc = os.path.join(os.path.dirname(f), "." + os.path.basename(f) + ".crc")
            if os.path.exists(crc):
                os.remove(crc)
    for s in m.segments:
        s.pop("format", None)
    m.version = 1
    m.commit(index_dir)


def _blocks(seg_dir: str) -> pd.DataFrame:
    tbl = ds.dataset(os.path.join(seg_dir, "postings"), format="parquet",
                     partitioning="hive").to_table(columns=[f.name for f in BLOCK_SCHEMA.fields])
    return tbl.to_pandas().sort_values(BLOCK_KEY).reset_index(drop=True)


def _answers(spark, d: str) -> dict:
    """Every checked entry on both routes; local == Spark asserted."""
    out = {}
    calls = {
        "or": lambda ex: search_many(spark, d, QUERIES, execution=ex),
        "and": lambda ex: search_many(spark, d, QUERIES, operator="and", execution=ex),
        "phrase": lambda ex: phrase_search_many(
            spark, d, [(0, "return int", 10), (1, "int fn", 10)], execution=ex),
        "phrase_freq_slop": lambda ex: phrase_search_many(
            spark, d, [(0, "return int", 10)], scoring="phrase_freq", slop=1, execution=ex),
        "bool": lambda ex: bool_search(
            spark, d, Bool(must="return", should="int fn", must_not="struct"), k=10,
            execution=ex),
    }
    for name, call in calls.items():
        local, remote = call("local"), call("spark")
        assert local == remote, name
        assert any(local.values()) if isinstance(local, dict) else local, name
        out[name] = local
    return out


def _oracle(spark, pdf: pd.DataFrame):
    rows = prepare_docs(spark.createDataFrame(pdf), CFG["n_shards"]).select(
        "doc_id", "content").collect()
    return build_oracle((r["doc_id"], r["content"]) for r in rows)


@pytest.fixture(scope="module")
def twins(spark, tmp_path_factory):
    """(format-2 index, its format-1 rewrite, corpus pdf)."""
    pdf = generate_corpus_pdf(160)
    root = tmp_path_factory.mktemp("fmt")
    d2, d1 = str(root / "f2"), str(root / "f1")
    build_index(spark, spark.createDataFrame(pdf), d2, **CFG)
    shutil.copytree(d2, d1)
    to_format1(d1)
    return d2, d1, pdf


def test_format1_segment_reads_like_format2(spark, twins):
    d2, d1, pdf = twins
    seg1 = IndexManifest.load(d1).segment_dirs(d1)[0]
    b1, b2 = _blocks(seg1), _blocks(IndexManifest.load(d2).segment_dirs(d2)[0])
    # a true format-1 segment: no all-docs rows, one dl per posting
    assert not (b1["term"] == "").any() and (b1["dls"].map(len) > 0).all()
    assert (b2["term"] == "").any() and (b2[b2["term"] != ""]["dls"].map(len) == 0).all()
    # the same term blocks apart from their payload encoding, and the
    # manifest posting count is their posting count
    terms2 = b2[b2["term"] != ""].reset_index(drop=True)
    for c in ["field", "term", "shard", "salt", "block_id", "n", "first_doc", "last_doc",
              "max_impact", "tfs", "poss"]:
        assert b1[c].equals(terms2[c]), c
    assert IndexManifest.load(d2).segments[0]["postings"] == int(b1["n"].sum())
    assert IndexManifest.load(d2).segments[0]["format"] == POSTINGS_FORMAT
    got1, got2 = _answers(spark, d1), _answers(spark, d2)
    assert got1 == got2
    oracle = _oracle(spark, pdf)
    for qid, text, k in QUERIES:
        hits, want = got1["or"][qid], oracle.search(text, k)
        assert [d for d, _ in hits] == [d for d, _ in want], text
        assert np.allclose([s for _, s in hits], [s for _, s in want], atol=1e-9)


@pytest.mark.parametrize("how", ["merge_segments", "compact_tiered"])
def test_compaction_rewrites_format1_to_format2(spark, twins, tmp_path, how):
    """format 1 + a format-2 append is a mixed index that answers like
    the all-format-2 one; merging it writes format 2, block for block
    what merging the format-2 index writes, with unchanged answers."""
    d2_src, d1_src, _ = twins
    d1, d2 = str(tmp_path / "f1"), str(tmp_path / "f2")
    shutil.copytree(d1_src, d1)
    shutil.copytree(d2_src, d2)
    inc = spark.createDataFrame(generate_corpus_pdf(60, start=400))
    for d in (d1, d2):
        incremental_update(spark, inc, d)
    assert [s.get("format", 1) for s in IndexManifest.load(d1).segments] == [1, POSTINGS_FORMAT]
    before = _answers(spark, d1)
    assert before == _answers(spark, d2)
    for d in (d1, d2):
        if how == "merge_segments":
            merge_segments(spark, d)
        else:
            compact_tiered(spark, d, max_segments=1, fan_in=2)
    m1, m2 = IndexManifest.load(d1), IndexManifest.load(d2)
    assert len(m1.segments) == 1 and m1.segments[0]["format"] == POSTINGS_FORMAT
    assert m1.version == POSTINGS_FORMAT
    assert m1.segments[0]["postings"] == m2.segments[0]["postings"]
    b1 = _blocks(m1.segment_dirs(d1)[0])
    b2 = _blocks(m2.segment_dirs(d2)[0])
    pd.testing.assert_frame_equal(b1, b2)
    assert _answers(spark, d1) == before
