"""Positional postings + match_phrase (VERDICT r3 #4): positions stored
as per-posting within-doc deltas in the block payload; phrase queries
intersect candidates and verify adjacency exactly; shingles remain the
fast approximate path.
"""

from __future__ import annotations

import math
import random

import pandas as pd

import pytest

from bugzilla_etl_spark.corpus import generate_corpus
from bugzilla_etl_spark.index import (
    build_index,
    incremental_update,
    merge_segments,
    phrase_search,
    phrase_search_many,
    search,
)
from bugzilla_etl_spark.index.build import delete_docs, prepare_docs
from bugzilla_etl_spark.oracle import build_oracle, idf, impact
from bugzilla_etl_spark.tokenize import py_tokens


def _py_phrase_oracle(toks: dict[int, list[str]], phrase: str, k: int = 10):
    """Exhaustive phrase reference: exact token-sequence match + BM25
    constituent-sum scoring (the engine's documented phrase scoring)."""
    seq = py_tokens(phrase)
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / max(1, n)
    dfs = {t: sum(1 for ts in toks.values() if t in ts) for t in set(seq)}
    out = []
    for d, ts in toks.items():
        if not any(
            ts[i : i + len(seq)] == seq for i in range(len(ts) - len(seq) + 1)
        ):
            continue
        s = sum(
            idf(n, dfs[t]) * impact(ts.count(t), len(ts), avgdl)
            for t in sorted(set(seq))
        )
        out.append((d, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


@pytest.fixture(scope="module")
def pos_index(spark, small_corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pidx") / "idx")
    build_index(
        spark, small_corpus, d,
        n_shards=4, n_tb=4, n_salts=2, n_sb=2, block_size=16,
        positions=True,
    )
    toks = {
        r["doc_id"]: py_tokens(r["content"])
        for r in prepare_docs(small_corpus, 4).select("doc_id", "content").collect()
    }
    return d, toks


def test_phrase_fuzz_vs_oracle(spark, pos_index):
    """40 seeded random phrases SAMPLED FROM real documents (guaranteed
    non-vacuous) of lengths 2-4, batch-executed, rank- and
    score-identical to the exhaustive Python oracle."""
    d, toks = pos_index
    rng = random.Random(7)
    docs = [ts for ts in toks.values() if len(ts) >= 6]
    queries = []
    for qid in range(40):
        ts = rng.choice(docs)
        ln = rng.randint(2, 4)
        i = rng.randrange(len(ts) - ln)
        queries.append((qid, " ".join(ts[i : i + ln]), 10))
    res = phrase_search_many(spark, d, queries)
    n_nonempty = 0
    for qid, text, k in queries:
        want = _py_phrase_oracle(toks, text, k)
        got = res[qid]
        assert [x for x, _ in got] == [x for x, _ in want], (text, got[:3], want[:3])
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, abs_tol=1e-9)
        n_nonempty += bool(got)
    assert n_nonempty == 40  # sampled from real docs: every phrase matches


def test_phrase_repeated_term_and_absent(spark, pos_index):
    d, toks = pos_index
    # repeated term inside the phrase exercises the offset walk
    got = phrase_search(spark, d, "int int", k=10)
    want = _py_phrase_oracle(toks, "int int", 10)
    assert [x for x, _ in got] == [x for x, _ in want]
    # phrase with a nonexistent term matches nothing
    assert phrase_search(spark, d, "return qzx_nonexistent", k=10) == []


def test_phrase_survives_incremental_and_merge(spark, small_corpus, tmp_path):
    """Positions are preserved through incremental append, tombstoned
    deletes, and log-structured merge (decode -> carry -> re-encode)."""
    d = str(tmp_path / "idx")
    part1 = small_corpus.limit(120)
    build_index(
        spark, part1, d, n_shards=2, n_tb=2, block_size=16,
        positions=True,
    )
    inc = generate_corpus(spark, 80, start=200, partitions=4)
    incremental_update(spark, inc, d)
    import pandas as pd

    from bugzilla_etl_spark.corpus import generate_corpus_pdf

    both_pdf = pd.concat(
        [generate_corpus_pdf(120), generate_corpus_pdf(80, start=200)]
    )
    both = spark.createDataFrame(both_pdf)
    toks = {
        r["doc_id"]: py_tokens(r["content"])
        for r in prepare_docs(both, 2).select("doc_id", "content").collect()
    }
    for phrase in ["return int", "if return", "fn impl"]:
        got = phrase_search(spark, d, phrase, k=10)
        want = _py_phrase_oracle(toks, phrase, 10)
        assert [x for x, _ in got] == [x for x, _ in want], ("pre-merge", phrase)
    # delete a few matching docs, then merge: positions re-encode
    dead = [x for x, _ in phrase_search(spark, d, "return int", k=3)]
    delete_docs(spark, d, dead, auto_compact_ratio=None)
    merge_segments(spark, d)
    toks2 = {k: v for k, v in toks.items() if k not in dead}
    for phrase in ["return int", "if return"]:
        got = phrase_search(spark, d, phrase, k=10)
        want = _py_phrase_oracle(toks2, phrase, 10)
        assert [x for x, _ in got] == [x for x, _ in want], ("post-merge", phrase)
    # the plain BM25 path is untouched by the positional payload
    oracle = build_oracle((k, " ".join(v)) for k, v in toks2.items())
    got = search(spark, d, "return int fn", k=10)
    assert [x for x, _ in got] == [x for x, _ in oracle.search("return int fn", 10)]


def test_phrase_requires_positional_index(spark, small_corpus, tmp_path):
    d = str(tmp_path / "idx")
    build_index(spark, small_corpus.limit(40), d, n_shards=2, n_tb=2)
    with pytest.raises(ValueError, match="positions=True"):
        phrase_search(spark, d, "return int", k=5)


def test_phrase_hot_term_lazy_decode():
    """'the merge' costs O(df(merge)): the hot term's sub-list decodes
    only the blocks containing candidates, not the whole list."""
    import numpy as np

    from bugzilla_etl_spark.codec import varint_encode
    from bugzilla_etl_spark.index.postings import BlockList, TermPostings

    pt = TermPostings()
    sl = pt.subs[(0, 0)] = BlockList(1.0, 1.2, 0.75, 10.0)
    doc = 1000
    n_blocks, per = 64, 8
    for _ in range(n_blocks):
        ids = np.arange(doc, doc + per, dtype=np.uint64)
        doc += per + 3
        tf = np.full(per, 2, dtype=np.uint64)
        dl = np.full(per, 10, dtype=np.uint64)
        gaps = np.empty(per, dtype=np.uint64)
        gaps[0] = ids[0]
        gaps[1:] = np.diff(ids)
        # two positions per posting: absolute 5, delta 3
        pos = np.tile(np.array([5, 3], dtype=np.uint64), per)
        sl.add_block(ids[0], ids[-1], 0.0, per, varint_encode(gaps),
                     varint_encode(tf), varint_encode(dl), varint_encode(pos))
    pt.seal()
    assert pt.n_postings == n_blocks * per
    # candidates confined to one block
    cand = np.array([1000, 1003], dtype=np.uint64)
    mask, imp = pt.imp_at(cand)
    assert mask.all() and (imp > 0).all()
    assert len(sl._dec) == 1, f"decoded {len(sl._dec)}/{n_blocks} blocks"
    assert not sl._pos, "membership probes must not decode positions"
    # positions reconstruct through the per-posting delta reset
    ci, pos, _dl = pt.positions_bulk(np.array([1003], dtype=np.uint64))
    assert ci.tolist() == [0, 0] and pos.tolist() == [5, 8]
    assert len(sl._dec) == 1 and len(sl._pos) == 1


def test_phrase_on_variant_field(spark, small_corpus, tmp_path):
    """Per-field positional payload: positions=['content','tokens']
    records positions for BOTH the primary and the path_v1 variant;
    phrases verify against each field's own token sequence."""
    from bugzilla_etl_spark.tokenize import py_path_tokens

    d = str(tmp_path / "idx")
    build_index(
        spark, small_corpus.limit(150), d,
        n_shards=2, n_tb=2, block_size=16,
        extra_fields={"tokens": "path_v1"},
        positions=["content", "tokens"],
    )
    rows = prepare_docs(small_corpus.limit(150), 2).select("doc_id", "content").collect()
    toks_path = {r["doc_id"]: py_path_tokens(r["content"]) for r in rows}
    toks_code = {r["doc_id"]: py_tokens(r["content"])for r in rows}
    # a phrase crossing an underscore exists only in the path_v1 stream:
    # "r5_sym1" tokenizes to [r5, sym1] there, one token in code_v1
    got = phrase_search(spark, d, "r5 sym1", k=10, field="tokens")
    want = _py_phrase_oracle(toks_path, "r5 sym1", 10)
    assert [x for x, _ in got] == [x for x, _ in want]
    assert got, "variant-field phrase must be non-vacuous"
    # same text as a content-field phrase: r5/sym1 are not separate
    # code_v1 tokens, so no document can match
    assert phrase_search(spark, d, "r5 sym1", k=10, field="content") == []
    # content-field phrases still work alongside
    got = phrase_search(spark, d, "return int", k=10)
    want = _py_phrase_oracle(toks_code, "return int", 10)
    assert [x for x, _ in got] == [x for x, _ in want]


def test_phrase_freq_scoring_vs_oracle(spark, pos_index):
    """ES/Lucene match_phrase scoring mode: tf = phrase OCCURRENCE count,
    weight = summed term idf (duplicates counted) — rank/score-identical
    to the exhaustive reference."""
    d, toks = pos_index
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    dfs_all = {}

    def py_phrase_freq(phrase, k=10):
        seq = py_tokens(phrase)
        for t in set(seq):
            if t not in dfs_all:
                dfs_all[t] = sum(1 for ts in toks.values() if t in ts)
        w = sum(idf(n, dfs_all[t]) for t in seq)
        out = []
        for doc, ts in toks.items():
            ptf = sum(
                1 for i in range(len(ts) - len(seq) + 1) if ts[i : i + len(seq)] == seq
            )
            if not ptf:
                continue
            out.append((doc, w * impact(ptf, len(ts), avgdl)))
        out.sort(key=lambda x: (-x[1], x[0]))
        return out[:k]

    for phrase in ["return int", "int int", "for if", "r5_sym1 fn"]:
        got = phrase_search(spark, d, phrase, k=10, scoring="phrase_freq")
        want = py_phrase_freq(phrase)
        assert [x for x, _ in got] == [x for x, _ in want], (phrase, got[:3], want[:3])
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, abs_tol=1e-9), (phrase, gs, ws)

    with pytest.raises(ValueError, match="unknown phrase scoring"):
        phrase_search(spark, d, "return int", scoring="bm25f")


def test_phrase_filtered_vs_oracle(spark, pos_index, small_corpus):
    """VERDICT r4 #4: predicate= threads through the phrase scorer — the
    reference's production shape combines an analyzed match with
    not_analyzed term filters (bug_version.json:57-65,221-224). Filter
    context semantics: matches restrict to the allowed set, BM25 stats
    stay GLOBAL."""
    by_lang = {
        r["doc_id"]: r["lang"]
        for r in prepare_docs(small_corpus, 4)
        .select("doc_id", "lang")
        .collect()
    }
    d, toks = pos_index
    rng = random.Random(11)
    docs = [(did, ts) for did, ts in toks.items() if len(ts) >= 6]
    n_nonempty = 0
    for qi in range(12):
        did, ts = rng.choice(docs)
        i = rng.randrange(len(ts) - 2)
        text = " ".join(ts[i : i + 2])
        lang = by_lang[did]
        got = phrase_search(spark, d, text, k=10, predicate=[("lang", "==", lang)])
        want = [
            (x, s)
            for x, s in _py_phrase_oracle(toks, text, k=len(toks))
            if by_lang[x] == lang
        ][:10]
        assert [x for x, _ in got] == [x for x, _ in want], (text, lang)
        for (_, gs), (_, ws) in zip(got, want):
            assert math.isclose(gs, ws, abs_tol=1e-9)
        n_nonempty += bool(got)
        # unfiltered superset sanity: same phrase without the predicate
        # contains every filtered hit (scores identical — global stats)
        if got:
            full = dict(_py_phrase_oracle(toks, text, k=len(toks)))
            for x, s in got:
                assert math.isclose(full[x], s, abs_tol=1e-9)
    assert n_nonempty == 12  # phrases sampled from real docs of known lang
    # an impossible conjunction matches nothing
    assert phrase_search(
        spark, d, "return int", k=5,
        predicate=[("lang", "==", "python"), ("lang", "==", "go")],
    ) == []
    # phrase_freq scoring composes with the predicate too
    pf = phrase_search(
        spark, d, "return int", k=5, scoring="phrase_freq",
        predicate=[("lang", "==", "python")],
    )
    assert all(by_lang[x] == "python" for x, _ in pf)


def _py_slop_oracle(toks: dict[int, list[str]], phrase: str, slop: int, k: int = 10):
    """Ordered-proximity reference: terms in query order, at most `slop`
    skipped tokens between first and last (greedy smallest-next chain
    per start — optimal for the ordered semantics); gate scoring."""
    seq = py_tokens(phrase)
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / max(1, n)
    dfs = {t: sum(1 for ts in toks.values() if t in ts) for t in set(seq)}
    out = []
    for d, ts in toks.items():
        matched = False
        for i, t0 in enumerate(ts):
            if t0 != seq[0]:
                continue
            cur = i
            ok = True
            for t in seq[1:]:
                nxt = next((j for j in range(cur + 1, len(ts)) if ts[j] == t), None)
                if nxt is None:
                    ok = False
                    break
                cur = nxt
            if ok and cur - i - (len(seq) - 1) <= slop:
                matched = True
                break
        if not matched:
            continue
        s = sum(
            idf(n, dfs[t]) * impact(ts.count(t), len(ts), avgdl)
            for t in sorted(set(seq))
        )
        out.append((d, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


def test_phrase_slop_vs_oracle(spark, pos_index):
    """Round 5: match_phrase slop (ordered proximity). slop=0 equals
    exact adjacency; growing slop only ADDS matches; results identical
    to the exhaustive ordered-proximity oracle."""
    d, toks = pos_index
    rng = random.Random(23)
    docs = [ts for ts in toks.values() if len(ts) >= 8]
    n_extra = 0
    for qi in range(15):
        ts = rng.choice(docs)
        i = rng.randrange(len(ts) - 4)
        # sample a phrase with a GAP (tokens i and i+2): exact misses,
        # slop=1 must hit
        gap_phrase = f"{ts[i]} {ts[i + 2]}"
        for slop in (0, 1, 3):
            got = phrase_search(spark, d, gap_phrase, k=10, slop=slop)
            want = _py_slop_oracle(toks, gap_phrase, slop, 10)
            assert [x for x, _ in got] == [x for x, _ in want], (gap_phrase, slop)
            for (_, gs), (_, ws) in zip(got, want):
                assert math.isclose(gs, ws, abs_tol=1e-9)
        e0 = {x for x, _ in phrase_search(spark, d, gap_phrase, k=10**6)}
        e1 = {x for x, _ in phrase_search(spark, d, gap_phrase, k=10**6, slop=1)}
        assert e0 <= e1
        n_extra += len(e1) - len(e0)
    assert n_extra > 0  # the sampled gaps actually exercised slop
    # slop=0 path unchanged: identical to the default
    q = " ".join(docs[0][:2])
    assert phrase_search(spark, d, q, k=10, slop=0) == phrase_search(spark, d, q, k=10)


class TestUnorderedSlop:
    """Lucene unordered sloppy phrase (VERDICT r5 #9): match iff an
    assignment of one position per term has shifted-position range
    (max(p_i - i) - min(p_i - i)) <= slop; a transposition costs 2."""

    @staticmethod
    def _brute(toks, seq, slop):
        import itertools

        positions = {t: [i for i, x in enumerate(toks) if x == t] for t in seq}
        if any(not positions[t] for t in seq):
            return False
        for combo in itertools.product(*(positions[t] for t in seq)):
            shifted = [p - i for i, p in enumerate(combo)]
            if max(shifted) - min(shifted) <= slop:
                return True
        return False

    @pytest.fixture(scope="class")
    def uidx(self, spark, tmp_path_factory):
        import numpy as np

        rng = np.random.default_rng(77)
        vocab = ["alpha", "beta", "gamma", "delta", "pad"]
        rows = []
        for i in range(300):
            n = int(rng.integers(4, 30))
            toks = [vocab[j] for j in rng.integers(0, len(vocab), n)]
            rows.append(("r", f"p{i}", "c0", "en", " ".join(toks)))
        pdf = pd.DataFrame(
            rows, columns=["repo", "path", "commit", "lang", "content"]
        )
        d = str(tmp_path_factory.mktemp("uslop") / "idx")
        build_index(
            spark, spark.createDataFrame(pdf), d, n_shards=4, n_tb=4,
            n_sb=2, block_size=16, positions=True,
        )
        toks_by_id = {}
        for r in (
            prepare_docs(spark.createDataFrame(pdf), 4)
            .select("doc_id", "content")
            .collect()
        ):
            toks_by_id[r["doc_id"]] = r["content"].split()
        return d, toks_by_id

    def test_transposition_costs_two(self, spark, uidx):
        d, toks = uidx
        got1 = {
            did
            for did, _ in phrase_search(
                spark, d, "alpha beta", k=500, slop=1, ordered=False
            )
        }
        got2 = {
            did
            for did, _ in phrase_search(
                spark, d, "alpha beta", k=500, slop=2, ordered=False
            )
        }
        # a doc with ONLY 'beta alpha' adjacency matches at slop 2, not 1
        only_transposed = {
            did
            for did, ts in toks.items()
            if self._brute(ts, ["alpha", "beta"], 2)
            and not self._brute(ts, ["alpha", "beta"], 1)
        }
        assert only_transposed, "fixture must contain transposed-only docs"
        assert only_transposed <= got2
        assert not (only_transposed & got1)

    @pytest.mark.parametrize("slop", [0, 1, 2, 3])
    @pytest.mark.parametrize(
        "phrase", ["alpha beta", "beta gamma delta", "delta alpha gamma"]
    )
    def test_fuzz_vs_bruteforce(self, spark, uidx, phrase, slop):
        d, toks = uidx
        seq = phrase.split()
        got = {
            did
            for did, _ in phrase_search(
                spark, d, phrase, k=1000, slop=slop, ordered=False
            )
        }
        want = {did for did, ts in toks.items() if self._brute(ts, seq, slop)}
        assert got == want, (phrase, slop, len(got), len(want))

    def test_unordered_rejects_phrase_freq_and_repeats(self, spark, uidx):
        d, _ = uidx
        with pytest.raises(ValueError, match="gate"):
            phrase_search(
                spark, d, "alpha beta", slop=1, ordered=False,
                scoring="phrase_freq",
            )
        with pytest.raises(ValueError, match="repeated"):
            phrase_search(spark, d, "alpha beta alpha", slop=2, ordered=False)

    def test_ordered_matches_subset_of_unordered(self, spark, uidx):
        d, _ = uidx
        for slop in (0, 1, 2):
            o = {
                did
                for did, _ in phrase_search(
                    spark, d, "alpha gamma", k=1000, slop=slop
                )
            }
            u = {
                did
                for did, _ in phrase_search(
                    spark, d, "alpha gamma", k=1000, slop=slop, ordered=False
                )
            }
            assert o <= u


class TestSloppyFreqScoring:
    """Lucene sloppy-phrase SCORING (round 6): tf = sum of
    per-occurrence weights 1/(1+matchLength), saturated through BM25
    with the phrase's summed idf. slop=0 degenerates to phrase_freq."""

    @staticmethod
    def _ordered_ref(toks_by_id, phrase, slop, k=1000):
        """Independent reference: per start occurrence of seq[0], the
        greedy minimal chain's slack -> weight 1/(1+slack)."""
        seq = phrase.split()
        n = len(toks_by_id)
        avgdl = sum(len(t) for t in toks_by_id.values()) / n
        dfs = {t: sum(1 for ts in toks_by_id.values() if t in ts) for t in set(seq)}
        idf_seq = sum(idf(n, dfs[t]) for t in seq)
        out = []
        for did, ts in toks_by_id.items():
            pos = {t: [i for i, x in enumerate(ts) if x == t] for t in set(seq)}
            if any(not pos[t] for t in set(seq)):
                continue
            freq = 0.0
            for p0 in pos[seq[0]]:
                cur, ok = p0, True
                for t in seq[1:]:
                    nxt = [p for p in pos[t] if p > cur]
                    if not nxt:
                        ok = False
                        break
                    cur = nxt[0]
                if not ok:
                    continue
                slack = cur - p0 - (len(seq) - 1)
                if slack <= slop:
                    freq += 1.0 / (1.0 + slack)
            if freq > 0:
                out.append((did, idf_seq * impact(freq, len(ts), avgdl)))
        out.sort(key=lambda x: (-x[1], x[0]))
        return out[:k]

    def test_slop0_equals_phrase_freq(self, spark, pos_index):
        d, toks = pos_index
        docs = [ts for ts in toks.values() if len(ts) >= 6]
        rng = random.Random(11)
        for _ in range(5):
            ts = rng.choice(docs)
            i = rng.randrange(len(ts) - 2)
            q = " ".join(ts[i : i + 2])
            a = phrase_search(spark, d, q, k=50, scoring="phrase_freq")
            b = phrase_search(spark, d, q, k=50, scoring="sloppy_freq")
            assert a == b, q

    def test_ordered_sloppy_freq_vs_reference(self, spark, pos_index):
        d, toks = pos_index
        docs = [ts for ts in toks.values() if len(ts) >= 8]
        rng = random.Random(13)
        n_checked = 0
        for _ in range(8):
            ts = rng.choice(docs)
            ln = rng.randint(2, 3)
            i = rng.randrange(len(ts) - ln)
            # introduce slack tolerance so slop actually matters
            q = " ".join(ts[i : i + ln])
            for slop in (1, 3):
                got = phrase_search(spark, d, q, k=1000, slop=slop,
                                    scoring="sloppy_freq")
                want = self._ordered_ref(toks, q, slop)
                assert [x for x, _ in got] == [x for x, _ in want], (q, slop)
                for (_, gs), (_, ws) in zip(got, want):
                    assert math.isclose(gs, ws, abs_tol=1e-9), (q, slop)
                n_checked += bool(got)
        assert n_checked  # sampled phrases must match somewhere

    def test_unordered_sloppy_weights_order(self, spark, tmp_path_factory):
        """An adjacent in-order occurrence (weight 1) must outscore a
        transposed one (range 2 -> weight 1/3) at equal dl, and both
        must score positively under sloppy_freq."""
        rows = [
            ("r", "0", "c0", "en", "alpha beta pad pad pad"),
            ("r", "1", "c0", "en", "beta alpha pad pad pad"),
        ]
        pdf = pd.DataFrame(
            rows, columns=["repo", "path", "commit", "lang", "content"]
        )
        d = str(tmp_path_factory.mktemp("uw") / "idx")
        build_index(
            spark, spark.createDataFrame(pdf), d, n_shards=2, n_tb=2,
            positions=True,
        )
        ids = {
            r["path"]: int(r["doc_id"])
            for r in prepare_docs(spark.createDataFrame(pdf), 2)
            .select("doc_id", "path").collect()
        }
        got = dict(
            phrase_search(spark, d, "alpha beta", k=10, slop=2,
                          ordered=False, scoring="sloppy_freq")
        )
        assert set(got) == {ids["0"], ids["1"]}
        assert got[ids["0"]] > got[ids["1"]] > 0
        # weight ratio == impact(1)/impact(1/3) at identical dl/idf
        n, avgdl, dl = 2, 5.0, 5.0
        r_want = impact(1.0, dl, avgdl) / impact(1.0 / 3.0, dl, avgdl)
        assert math.isclose(got[ids["0"]] / got[ids["1"]], r_want, rel_tol=1e-9)


# -------------------------------------------------- match_phrase_prefix
class TestMatchPhrasePrefix:
    def _expansions(self, toks, prefix):
        return sorted({t for ts in toks.values() for t in ts
                       if t.startswith(prefix)})

    def _ref(self, toks, text, k):
        """Max-over-completions reference: run the exhaustive phrase
        oracle per completed phrase UNCUT, keep each doc's best."""
        seq = py_tokens(text)
        acc = {}
        for e in self._expansions(toks, seq[-1]):
            full = " ".join(seq[:-1] + [e])
            for d, s in _py_phrase_oracle(toks, full, k=len(toks)):
                if s > acc.get(d, float("-inf")):
                    acc[d] = s
        return sorted(acc.items(), key=lambda x: (-x[1], x[0]))[:k]

    def test_vs_bruteforce(self, spark, pos_index):
        from bugzilla_etl_spark.index import match_phrase_prefix_search

        d, toks = pos_index
        got = match_phrase_prefix_search(spark, d, "return in", k=15)
        want = self._ref(toks, "return in", 15)
        assert len(got) == len(want) and got
        for (gd, gs), (wd, ws) in zip(got, want):
            assert gd == wd and math.isclose(gs, ws, rel_tol=1e-9)

    def test_single_token_degenerates_to_max_prefix(self, spark, pos_index):
        from bugzilla_etl_spark.index import match_phrase_prefix_search
        from bugzilla_etl_spark.tokenize import py_analyze

        d, toks = pos_index
        got = match_phrase_prefix_search(spark, d, "im", k=10)
        n = len(toks)
        avgdl = sum(len(t) for t in toks.values()) / n
        exps = self._expansions(toks, "im")
        dfs = {e: sum(1 for ts in toks.values() if e in ts) for e in exps}
        acc = {}
        for doc, ts in toks.items():
            best = max(
                (idf(n, dfs[e]) * impact(ts.count(e), len(ts), avgdl)
                 for e in exps if e in ts),
                default=None,
            )
            if best is not None:
                acc[doc] = best
        want = sorted(acc.items(), key=lambda x: (-x[1], x[0]))[:10]
        assert len(got) == len(want) and got
        for (gd, gs), (wd, ws) in zip(got, want):
            assert gd == wd and math.isclose(gs, ws, rel_tol=1e-9)

    def test_no_expansion_returns_empty(self, spark, pos_index):
        from bugzilla_etl_spark.index import match_phrase_prefix_search

        d, _ = pos_index
        assert match_phrase_prefix_search(spark, d, "return zzz") == []

    def test_shingle_chain_raises(self, spark, small_corpus, tmp_path):
        from bugzilla_etl_spark.index import match_phrase_prefix_search

        d = str(tmp_path / "shidx")
        build_index(
            spark, small_corpus.limit(20), d, n_shards=2, n_tb=2,
            analyzer="code_v1_shingle",
        )
        with pytest.raises(ValueError, match="shingle"):
            match_phrase_prefix_search(spark, d, "return in")
