"""Every Python stage the engine launches runs at most ``cores``
(default parallelism) tasks: the shuffle feeding the SPIMI encoder and
the block merger, and the query fan-out's packed work items."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import types as T

from bugzilla_etl_spark.corpus import generate_corpus_pdf
from bugzilla_etl_spark.index import build as B
from bugzilla_etl_spark.index import build_index, incremental_update, merge_segments
from bugzilla_etl_spark.index import merge as M
from bugzilla_etl_spark.index import query as Q


def _spy_postings_tasks(spark, monkeypatch) -> list[int]:
    """Wrap the one postings writer (build, append, merge): after each
    call, record the task count of the write's last stage (the Python
    stage reading the ``(shard, salt)`` shuffle; the map stage before it
    is a JVM scan), read from the status tracker."""
    sc = spark.sparkContext
    listener_bus = sc._jsc.sc().listenerBus()  # noqa: SLF001
    real = B._write_postings
    tasks: list[int] = []

    def spy(*a, **k):
        group = f"postings-write-{len(tasks)}"
        sc.setJobGroup(group, "postings write")
        try:
            out = real(*a, **k)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        listener_bus.waitUntilEmpty()
        st = sc.statusTracker()
        stages = [
            s for j in st.getJobIdsForGroup(group)
            for s in st.getJobInfo(j).stageIds
        ]
        assert len(stages) >= 2, stages  # shuffle map + Python stage
        tasks.append(st.getStageInfo(max(stages)).numTasks)
        return out

    monkeypatch.setattr(B, "_write_postings", spy)
    monkeypatch.setattr(M, "_write_postings", spy)
    return tasks


def test_append_and_merge_python_stage_at_most_cores(spark, tmp_path, monkeypatch):
    d = str(tmp_path / "idx")
    build_index(
        spark, spark.createDataFrame(generate_corpus_pdf(120)), d,
        n_shards=8, n_tb=2, n_salts=2,
    )
    tasks = _spy_postings_tasks(spark, monkeypatch)
    for start in (10_000, 20_000):
        incremental_update(
            spark, spark.createDataFrame(generate_corpus_pdf(120, start=start)), d
        )
    merge_segments(spark, d)
    cores = spark.sparkContext.defaultParallelism
    assert len(tasks) == 3
    assert all(1 <= t <= cores for t in tasks), (tasks, cores)


def test_bucket_tasks_packs_items_into_cores_partitions(spark):
    cores = spark.sparkContext.defaultParallelism
    work = [(f"seg{i % 3}", i) for i in range(2 * cores + 3)]
    schema = T.StructType(
        [T.StructField("seg", T.StringType()), T.StructField("sb", T.LongType())]
    )

    def scorer(key, _pdf):
        seg, sb = key
        # every third item yields no rows, the rest 1-2 rows
        n = sb % 3
        return pd.DataFrame({
            "seg": pd.Series([seg] * n, dtype=object),
            "sb": pd.Series([sb] * n, dtype="int64"),
        })

    df = Q.bucket_tasks_df(spark, work, scorer, schema)
    assert df.rdd.getNumPartitions() == min(len(work), cores)
    want = pd.concat([scorer(w, None) for w in work], ignore_index=True)
    pd.testing.assert_frame_equal(df.toPandas(), want)
    # fewer items than cores: one task per item
    few = Q.bucket_tasks_df(spark, work[:2], scorer, schema)
    assert few.rdd.getNumPartitions() == 2
