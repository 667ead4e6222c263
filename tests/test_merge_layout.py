"""Merged segments are indistinguishable from built ones: the same block
rows, dictionary, postings file layout and manifest posting count as a
fresh ``build_index`` of the surviving docs."""

from __future__ import annotations

import glob
import math
import os

import pandas as pd
import pyarrow.dataset as ds
import pytest

from bugzilla_etl_spark.corpus import generate_corpus_pdf
from bugzilla_etl_spark.index import (
    build_index,
    compact_tiered,
    incremental_update,
    merge_segments,
    phrase_search_many,
    search_many,
)
from bugzilla_etl_spark.index.build import BLOCK_SCHEMA, delete_docs, prepare_docs
from bugzilla_etl_spark.index.manifest import IndexManifest
from bugzilla_etl_spark.oracle import build_oracle, idf, impact
from bugzilla_etl_spark.tokenize import py_tokens

CFG = dict(
    n_shards=4, n_tb=4, n_salts=2, block_size=8, positions=True,
    extra_fields={"sh": "code_v1_shingle"},
)
BLOCK_KEY = ["field", "term", "shard", "salt", "block_id"]


def _seg_dir(d: str, seg: dict) -> str:
    return os.path.join(d, "segments", seg["id"])


def _blocks(seg_dir: str) -> pd.DataFrame:
    cols = [f.name for f in BLOCK_SCHEMA.fields]
    tbl = ds.dataset(
        os.path.join(seg_dir, "postings"), format="parquet", partitioning="hive"
    ).to_table(columns=cols)
    return tbl.to_pandas().sort_values(BLOCK_KEY).reset_index(drop=True)


def _dict(seg_dir: str) -> pd.DataFrame:
    tbl = ds.dataset(os.path.join(seg_dir, "dict"), format="parquet").to_table(
        columns=["field", "term", "df", "tb"]
    )
    return tbl.to_pandas().sort_values(["field", "term"]).reset_index(drop=True)


def _ids(spark, pdf: pd.DataFrame, n_shards: int) -> list[int]:
    return [
        int(r["doc_id"])
        for r in prepare_docs(spark.createDataFrame(pdf), n_shards)
        .select("doc_id").collect()
    ]


@pytest.mark.parametrize("with_deletes", [False, True])
def test_full_merge_equals_fresh_build(spark, tmp_path, with_deletes):
    """build -> append -> (delete) -> full merge writes the block rows
    (every BLOCK_SCHEMA column, payloads and max_impact included) and
    the dictionary a fresh build of the surviving docs writes."""
    base, inc = generate_corpus_pdf(120), generate_corpus_pdf(80, start=200)
    d = str(tmp_path / "merged")
    build_index(spark, spark.createDataFrame(base), d, **CFG)
    incremental_update(spark, spark.createDataFrame(inc), d)
    both = pd.concat([base, inc], ignore_index=True)
    ids = _ids(spark, both, CFG["n_shards"])
    dead = set()
    if with_deletes:
        # docs from both segments, so the merge drops tombstones in each
        dead = {ids[3], ids[50], ids[130], ids[199]}
        delete_docs(spark, d, sorted(dead), auto_compact_ratio=None)
    m = merge_segments(spark, d)
    assert len(m.segments) == 1 and not m.tombstones

    fresh = str(tmp_path / "fresh")
    survivors = both[[i not in dead for i in ids]]
    f = build_index(spark, spark.createDataFrame(survivors), fresh, **CFG)
    assert m.n_docs == f.n_docs == len(survivors)
    got, want = _blocks(_seg_dir(d, m.segments[0])), _blocks(_seg_dir(fresh, f.segments[0]))
    assert len(got) == len(want) > 0
    assert set(got["field"]) == {"content", "sh"}
    assert got["poss"].notna().any()
    pd.testing.assert_frame_equal(got, want)
    pd.testing.assert_frame_equal(
        _dict(_seg_dir(d, m.segments[0])), _dict(_seg_dir(fresh, f.segments[0]))
    )


def _phrase_oracle(toks: dict[int, list[str]], phrase: str, k: int):
    """Exact token-sequence match, scored as the sum of the phrase's
    distinct terms' BM25 (the engine's phrase scoring)."""
    seq = py_tokens(phrase)
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    dfs = {t: sum(t in ts for ts in toks.values()) for t in set(seq)}
    out = []
    for doc, ts in toks.items():
        if any(ts[i : i + len(seq)] == seq for i in range(len(ts) - len(seq) + 1)):
            s = sum(
                idf(n, dfs[t]) * impact(ts.count(t), len(ts), avgdl)
                for t in sorted(set(seq))
            )
            out.append((doc, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def test_tiered_subset_merge_with_tombstones_matches_oracle(spark, tmp_path):
    """compact_tiered merges the two appended segments, physically
    dropping the tombstones that lived in them: BM25 and phrase results
    then equal the exhaustive oracles over the surviving docs."""
    pdfs = [
        generate_corpus_pdf(120),
        generate_corpus_pdf(40, start=200),
        generate_corpus_pdf(40, start=300),
    ]
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdfs[0]), d, **CFG)
    for pdf in pdfs[1:]:
        incremental_update(spark, spark.createDataFrame(pdf), d)
    dead = set(_ids(spark, pdfs[1], 4)[:3] + _ids(spark, pdfs[2], 4)[5:7])
    delete_docs(spark, d, sorted(dead), auto_compact_ratio=None)
    m0 = IndexManifest.load(d)
    m = compact_tiered(spark, d, max_segments=2, fan_in=2)
    assert len(m.segments) == 2 and m.segments[0] == m0.segments[0]
    assert m.segments[1]["n_docs"] == 75 and m.tombstones == []

    both = pd.concat(pdfs, ignore_index=True)
    rows = prepare_docs(spark.createDataFrame(both), 4).select("doc_id", "content").collect()
    live = [(r["doc_id"], r["content"]) for r in rows if r["doc_id"] not in dead]
    oracle = build_oracle(live)
    queries = [(1, "return int", 10), (2, "uniq_13 return", 10), (3, "for", 10)]
    res = search_many(spark, d, queries)
    for qid, text, k in queries:
        got, want = res[qid], oracle.search(text, k)
        assert [x for x, _ in got] == [x for x, _ in want], (text, got, want)
    toks = {doc: py_tokens(c) for doc, c in live}
    phrases = [(1, "return int", 10), (2, "if return", 10), (3, "fn impl", 10)]
    res = phrase_search_many(spark, d, phrases)
    for qid, text, k in phrases:
        got, want = res[qid], _phrase_oracle(toks, text, k)
        assert want, text
        assert [x for x, _ in got] == [x for x, _ in want], (text, got, want)
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, abs_tol=1e-9)


@pytest.fixture()
def appended_index(spark, tmp_path):
    """perfbench's ingest shape: a base segment plus two appends."""
    d = str(tmp_path / "idx")
    shape = dict(n_shards=8, n_tb=16)
    build_index(spark, spark.createDataFrame(generate_corpus_pdf(200)), d, **shape)
    for start in (1000, 2000):
        incremental_update(
            spark, spark.createDataFrame(generate_corpus_pdf(100, start=start)), d
        )
    return d


def test_merged_segment_has_build_file_layout(spark, appended_index):
    """Each ``sb=`` dir of a merged segment holds at most one postings
    file per (shard, salt) encoder group it stores, as a built one does."""
    d = appended_index
    m = compact_tiered(spark, d, max_segments=2, fan_in=2)
    merged = m.segments[-1]
    assert merged["lineage"]["merged_from"]
    sb_dirs = glob.glob(os.path.join(_seg_dir(d, merged), "postings", "**", "sb=*"),
                        recursive=True)
    assert sb_dirs
    for sb_dir in sb_dirs:
        sb = int(sb_dir.rsplit("=", 1)[1])
        n_in_sb = sum(s % m.n_sb == sb for s in range(m.n_shards))
        files = glob.glob(os.path.join(sb_dir, "*.parquet"))
        assert 0 < len(files) <= n_in_sb * m.n_salts, (sb_dir, len(files))


def test_merged_segment_records_postings(spark, appended_index):
    """A merged manifest entry counts its postings like a built one: the
    summed df of its dictionary, and (no tombstones) its inputs' sum."""
    d = appended_index
    before = IndexManifest.load(d).segments
    m = compact_tiered(spark, d, max_segments=2, fan_in=2)
    sub = m.segments[-1]
    assert sub["postings"] == sum(s["postings"] for s in before[1:])
    assert sub["postings"] == int(_dict(_seg_dir(d, sub))["df"].sum())
    m = merge_segments(spark, d)
    full = m.segments[0]
    assert full["postings"] == sum(s["postings"] for s in before)
    assert full["postings"] == int(_dict(_seg_dir(d, full))["df"].sum())
