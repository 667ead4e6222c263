"""The route cost model: which requests run in the driver and which fan
out to Spark, at 4 and 32 cores, and the machine input it reads."""

from __future__ import annotations

import threading

from bugzilla_etl_spark.index import query as Q
from bugzilla_etl_spark.index.query import route


def test_route_table():
    # 4 cores: a rare request and a batch the fixed 50k gate sent to
    # Spark both run locally; the fan-out's per-wave floor dwarfs them
    assert route(8, 66, 4)[0] == "local"
    assert route(8, 100_000, 4)[0] == "local"
    # per-item work above the wave floor goes to Spark
    assert route(8, 10_000_000, 4)[0] == "spark"
    # 32 cores: many items fan out, and the 16-item cutover (the route
    # is monotone in the estimate) stays near the fixed gate that was
    # tuned there
    assert route(800, 1_000_000, 32)[0] == "spark"
    assert route(16, 25_000, 32)[0] == "local"
    assert route(16, 100_000, 32)[0] == "spark"
    # an estimate that only bounds the candidates (phrase, nested, bool,
    # AND) prices each at C_CAND_MS: at 4 cores an 8-item estimate of
    # 150k runs in the driver as a BM25 union but fans out as candidates,
    # and at 32 cores the 16-item candidate cutover lies below the fixed 50k
    cand = {"c_post_ms": Q.C_CAND_MS}
    assert route(8, 150_000, 4)[0] == "local"
    assert route(8, 150_000, 4, **cand)[0] == "spark"
    assert route(8, 80_000, 4, **cand)[0] == "local"
    assert route(16, 20_000, 32, **cand)[0] == "local"
    assert route(16, 50_000, 32, **cand)[0] == "spark"
    # the reported costs are the ones compared
    for n, est, cores in ((8, 66, 4), (8, 10_000_000, 4), (800, 1_000_000, 32)):
        r, local_ms, spark_ms = route(n, est, cores)
        assert (r == "local") == (local_ms <= spark_ms)
    # the constants default to the module's fit; a caller may pass its own
    assert route(8, 10**5, 4) == route(
        8, 10**5, 4, c_item_ms=Q.C_ITEM_MS, c_post_ms=Q.C_POST_MS, wave_ms=Q.WAVE_MS
    )
    assert route(8, 10**5, 4, wave_ms=0.0)[0] == "spark"


def test_cores_from_running_context_on_any_thread(spark, monkeypatch):
    """Explain takes no session: on a thread with no active session it
    still reads the running context's default parallelism, the one the
    executor routes by, never the host's CPU count."""
    want = spark.sparkContext.defaultParallelism
    monkeypatch.setattr(Q.os, "cpu_count", lambda: want + 7)
    assert Q._cores() == Q._cores(spark) == want
    got = []
    t = threading.Thread(target=lambda: got.append(Q._cores()))
    t.start()
    t.join()
    assert got == [want]
