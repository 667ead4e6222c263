"""The three workloads, driven through the engine's public API.

Each runs a closed loop with one client: the next call goes out only
after the previous one returned. Every call is timed on its own; the
window ends at the first boundary after ``seconds`` — of a build, of a
search block, of an ingest cycle — so every run has the same mix.

- ``build``: repeated full ``build_index`` of the persisted base corpus
  (the bulk write path; query layers idle).
- ``search``: read-only mix of single ``hot`` and ``rare`` queries and
  8-query ``batch8`` requests over the prebuilt index.
- ``ingest``: cycles of two rounds of ``incremental_update``,
  ``compact_tiered`` and passes of the fixed hot+rare query set, each cycle on a
  fresh copy of the prebuilt index; the second compaction merges the
  two appended segments.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time

from bugzilla_etl_spark.corpus import generate_corpus
from bugzilla_etl_spark.index import (
    IndexManifest,
    build_index,
    compact_tiered,
    explain_search,
    incremental_update,
    prepare_docs,
    search_many,
)

from check import BuildChecker, OracleCache, data_files, index_bytes, planted_fault_caught
from inputs import APPEND_DOCS, K, N_DOCS

N_TB = 16  # bench.py's build shape
# compact_tiered's defaults (max_segments=8, fan_in=4) first merge after
# the 8th append, far outside one run's window; with 2/2 each cycle's
# second compaction merges the two appended segments and never the base
COMPACT = {"max_segments": 2, "fan_in": 2}
# the ingest query set runs this many times per round: its eight
# queries differ ~5x in cost, and the median of one pass per round
# moved with which of them it landed on
QUERY_PASSES = 2
# the first ingest cycle of a run is the cold one (~10% slower queries
# and appends); with at least two, a slow cycle on a loaded host cannot
# cut a run down to the cold cycle alone and change its mix
MIN_CYCLES = 2
SETUP_PASSES = 3


class Ctx:
    """What a workload needs: session, inputs, tracer and scratch dir."""

    def __init__(self, spark, inputs, tracer, work: str, seconds: float, cpus: int):
        self.spark = spark
        self.inputs = inputs
        self.tracer = tracer
        self.work = work
        self.seconds = seconds
        self.n_shards = max(8, cpus)  # bench.py's build shape
        self.corpus = None
        self.oracle: OracleCache | None = None
        self.content_bytes = 0
        self.builds: list[dict] = []  # per build_index: wall, postings batch, postings
        self.setup_dirs: list[str] = []
        self.setup_s = 0.0
        self.setup_wall_s = 0.0  # corpus, oracle and all set-up passes
        self.planted: bool | None = None  # the gate caught planted faults
        self.next_req = 0

    def req(self) -> int:
        self.next_req += 1
        return self.next_req

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


def docs_rows(ctx: Ctx, frame):
    """(doc_id, content) rows with the engine's doc ids, for the oracle."""
    pdf = prepare_docs(frame, ctx.n_shards).select("doc_id", "content").toPandas()
    return list(zip(pdf["doc_id"].tolist(), pdf["content"].tolist()))


def build(ctx: Ctx, index_dir: str, cls: str = "build") -> float:
    with ctx.tracer.span("request", req=ctx.req(), cls=cls):
        t0 = time.monotonic()
        with ctx.tracer.span("index.build.build_index"):
            m = build_index(ctx.spark, ctx.corpus, index_dir, n_shards=ctx.n_shards, n_tb=N_TB)
        dt = time.monotonic() - t0
    seg = m.segments[0]
    ctx.builds.append(
        {
            "s": dt,
            "postings_batch_s": sum(v["elapsed_s"] for v in seg["lineage"].values()),
            "postings": seg["postings"],
        }
    )
    return dt


def setup(ctx: Ctx, with_oracle: bool) -> None:
    """Persist the base corpus, build the oracle, then build the index
    ``SETUP_PASSES`` times (the first pass is the cold one: JIT and
    Python worker start). ``setup_s`` is the median pass."""
    from bugzilla_etl_spark.oracle import build_oracle
    from pyspark.sql import functions as F

    t0 = time.monotonic()
    ctx.corpus = generate_corpus(
        ctx.spark, N_DOCS, partitions=8, start=ctx.inputs.base_start
    ).persist()
    ctx.corpus.count()
    if with_oracle:
        rows = docs_rows(ctx, ctx.corpus)
        ctx.oracle = OracleCache(build_oracle(rows))
        ctx.content_bytes = sum(len(c) for _, c in rows)
    else:
        ctx.content_bytes = int(
            ctx.corpus.agg(F.sum(F.length("content"))).collect()[0][0]
        )
    times = []
    for i in range(SETUP_PASSES):
        d = ctx.path(f"setup{i}")
        times.append(build(ctx, d, cls="setup"))
        ctx.setup_dirs.append(d)
    ctx.setup_s = statistics.median(times)
    ctx.setup_wall_s = time.monotonic() - t0
    # long-lived client state (the oracle alone is ~10^6 objects) would
    # make every full collection of this process scan it, adding random
    # pauses to the requests measured next
    gc.freeze()


class Result:
    def __init__(self):
        self.calls: list[tuple[str, float]] = []  # (class, seconds)
        self.attempted = 0
        self.failed = 0
        self.work_per_s = 0.0
        self.bytes_ratio = 0.0
        self.cycles: list[dict] = []  # ingest cycle stats

    def lat(self, cls: str | None = None) -> list[float]:
        return [s for c, s in self.calls if cls is None or c == cls]


def run_build(ctx: Ctx) -> Result:
    r = Result()
    setup(ctx, with_oracle=False)
    checker = BuildChecker(ctx.spark, ctx.corpus, N_DOCS)
    for d in ctx.setup_dirs:  # the first one becomes the reference
        r.attempted += 1
        r.failed += not checker.check(d)
    r.bytes_ratio = index_bytes(ctx.setup_dirs[0]) / ctx.content_bytes
    rates = []
    t_end = time.monotonic() + ctx.seconds
    i = 0
    while time.monotonic() < t_end:
        d = ctx.path(f"build{i}")
        dt = build(ctx, d)
        r.calls.append(("build", dt))
        rates.append(ctx.builds[-1]["postings"] / dt)
        r.attempted += 1
        r.failed += not checker.check(d)
        shutil.rmtree(d)
        i += 1
    r.work_per_s = statistics.median(rates)
    return r


def timed_search(ctx: Ctx, index_dir: str, cls: str, texts: list[str]):
    with ctx.tracer.span("request", req=ctx.req(), cls=cls):
        t0 = time.monotonic()
        with ctx.tracer.span("index.query.search_many", n_queries=len(texts)):
            res = search_many(ctx.spark, index_dir, [(j, t, K) for j, t in enumerate(texts)])
        dt = time.monotonic() - t0
    return res, dt


def check_answers(ctx: Ctx, texts: list[str], res: dict) -> bool:
    ok = True
    for j, t in enumerate(texts):
        got = res.get(j, [])
        ok &= ctx.oracle.check(t, got, K)
        if ok and got and ctx.planted is None:
            # once per run: the gate must reject planted wrong answers
            ctx.planted = planted_fault_caught(t, got, ctx.oracle, K)
    return ok


def run_search(ctx: Ctx) -> Result:
    r = Result()
    setup(ctx, with_oracle=True)
    index_dir = ctx.setup_dirs[-1]
    r.bytes_ratio = index_bytes(index_dir) / ctx.content_bytes
    for cls, texts in ctx.inputs.search_block():  # warm-up, untimed
        search_many(ctx.spark, index_dir, [(j, t, K) for j, t in enumerate(texts)])
    done = []
    t_start = time.monotonic()
    while time.monotonic() < t_start + ctx.seconds:
        for cls, texts in ctx.inputs.search_block():
            res, dt = timed_search(ctx, index_dir, cls, texts)
            r.calls.append((cls, dt))
            done.append((texts, res))
    wall = time.monotonic() - t_start
    r.work_per_s = sum(len(t) for t, _ in done) / wall
    for texts, res in done:  # checked after the window: the loop stays closed
        r.attempted += 1
        r.failed += not check_answers(ctx, texts, res)
    return r


def ingest_cycle(ctx: Ctx, base_dir: str, cycle: int, queries: list[str], r: Result) -> None:
    """One ingest cycle on a fresh copy of ``base_dir``: two rounds of
    (append ``APPEND_DOCS`` fresh docs, ``compact_tiered``,
    ``QUERY_PASSES`` passes of the query set).
    The second compaction merges the two appended segments. The oracle
    (when present) follows the appends and is restored afterwards."""
    d = ctx.path("ingest")
    shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(base_dir, d)
    st = {"write_s": 0.0, "docs": 0, "content_bytes": 0, "merge_bytes": 0, "merges": 0,
          "max_segments": 1}
    added = []
    for j in range(2):
        frame = generate_corpus(
            ctx.spark, APPEND_DOCS, partitions=4, start=ctx.inputs.append_start(2 * cycle + j)
        ).persist()
        rows = docs_rows(ctx, frame)  # collecting also fills the cache
        with ctx.tracer.span("request", req=ctx.req(), cls="append"):
            t0 = time.monotonic()
            with ctx.tracer.span("index.build.incremental_update"):
                incremental_update(ctx.spark, frame, d)
            append_s = time.monotonic() - t0
        frame.unpersist()
        before = {s["id"] for s in IndexManifest.load(d).segments}
        with ctx.tracer.span("request", req=ctx.req(), cls="compact"):
            t0 = time.monotonic()
            with ctx.tracer.span("index.merge.compact_tiered"):
                m = compact_tiered(ctx.spark, d, **COMPACT)
            compact_s = time.monotonic() - t0
        merged = len(m.segments) < len(before)
        r.calls += [("append", append_s), ("compact", compact_s)]
        r.attempted += 2
        r.failed += merged != (j == 1)  # only the second compaction merges
        st["write_s"] += append_s + compact_s
        st["docs"] += len(rows)
        st["content_bytes"] += sum(len(c) for _, c in rows)
        st["max_segments"] = max(st["max_segments"], len(before))
        if merged:
            st["merges"] += 1
            st["merge_s"] = compact_s
            st["merge_bytes"] += sum(
                os.path.getsize(p)
                for s in m.segments if s["id"] not in before
                for p in data_files(os.path.join(d, "segments", s["id"]))
            )
        added += rows
        if ctx.oracle is not None:
            ctx.oracle.add(rows)
        for q in queries * QUERY_PASSES:
            res, dt = timed_search(ctx, d, "query", [q])
            r.calls.append(("query", dt))
            r.attempted += 1
            if ctx.oracle is not None:
                r.failed += not check_answers(ctx, [q], res)
    plans = [explain_search(d, q) for q in queries]
    st["pruned"] = sum(p["pruned_segments"] for p in plans)
    st["candidates"] = sum(len(p["candidate_segments"]) + p["pruned_segments"] for p in plans)
    st["bytes_ratio"] = index_bytes(d) / (ctx.content_bytes + st["content_bytes"])
    if ctx.oracle is not None:
        ctx.oracle.remove(added)
    r.cycles.append(st)


def run_ingest(ctx: Ctx) -> Result:
    r = Result()
    setup(ctx, with_oracle=True)
    queries = ctx.inputs.ingest_queries()
    t_start = time.monotonic()
    cycle = 0
    while cycle < MIN_CYCLES or time.monotonic() < t_start + ctx.seconds:
        ingest_cycle(ctx, ctx.setup_dirs[-1], cycle, queries, r)
        cycle += 1
    r.work_per_s = sum(c["docs"] for c in r.cycles) / sum(c["write_s"] for c in r.cycles)
    r.bytes_ratio = r.cycles[0]["bytes_ratio"]
    return r


WORKLOADS = {"build": run_build, "search": run_search, "ingest": run_ingest}
