"""Physical-plan assertions: the Catalyst behaviors the engine relies on
(SURVEY §4) actually appear in the plans — predicate pushdown to
parquet, partition pruning on the term-bucket directory key, broadcast
joins for dimension lookups, bounded top-k (TakeOrderedAndProject)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from bugzilla_etl_spark.index import build_index
from bugzilla_etl_spark.operators.relational import (
    s1_star_join_scan,
    topk_orders_by_price,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_filter_pushdown(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") > 40.0)
        .select("l_orderkey", "l_quantity")
    )
    plan = df.queryExecution_string if hasattr(df, "queryExecution_string") else _plan(df)
    assert "PushedFilters" in plan and "l_quantity" in plan.split("PushedFilters")[1][:200]
    # column pruning: only the two needed columns in ReadSchema
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


def test_sb_partition_pruning_and_term_rowgroups(spark, small_corpus, tmp_path):
    """JVM path: sb directory pruning; term predicates push to parquet.
    (The Python query executor does the same pruning via pyarrow.)"""
    idx = str(tmp_path / "idx")
    build_index(spark, small_corpus, idx, n_shards=4, n_tb=8, n_sb=4)
    blocks = spark.read.parquet(f"{idx}/segments/seg00000/postings").filter(
        (F.col("sb") == 1) & (F.col("term") == "return")
    )
    plan = _plan(blocks)
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1][:160]
    assert "sb" in pf, pf
    assert "PushedFilters" in plan and "term" in plan.split("PushedFilters")[1][:160]
    assert blocks.select("sb").distinct().count() <= 1


def test_star_join_broadcasts(spark):
    """Dimensions broadcast; the lineitem-orders fact join takes the
    ``shuffle_hash`` hint (no sort-merge join on the fact side)."""
    plan = _plan(s1_star_join_scan(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "ShuffledHashJoin" in plan, plan


def test_topk_is_bounded_heap(spark):
    plan = _plan(topk_orders_by_price(spark, SF))
    assert "TakeOrderedAndProject" in plan  # no full global sort materialized


def test_semi_join_strategy(spark):
    """Join-stage shapes: j3 is a semi join, and the minhash candidate
    pair stage crosses the network on (band, bucket) exactly once."""
    from bugzilla_etl_spark.operators.dedup import _minhash_pairs
    from bugzilla_etl_spark.operators.relational import j3_changed_semi_join

    plan = _plan(j3_changed_semi_join(spark, SF))
    assert "LeftSemi" in plan
    plan = _plan(_minhash_pairs(spark, SF))
    wide = re.findall(r"Exchange hashpartitioning\(band#\d+, bucket#\d+", plan)
    assert len(wide) == 1, plan


def test_ivf_assignment_no_shuffle(spark):
    """The IVF cell assignment must be a per-row projection over the
    inlined broadcast codebook — no crossJoin row blow-up and no
    row_number window shuffle before the cell filter (VERDICT r2 #4):
    the plan carries no Window operator and no hash-partitioning
    exchange anywhere (final top-k is a bounded TakeOrdered)."""
    from bugzilla_etl_spark.operators.similarity import ann_ivf_topk

    plan = _plan(ann_ivf_topk(spark, SF))
    assert "Window" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan


@pytest.mark.parametrize("name", ["ft_bm25_top10"])
def test_bm25_plan_shape(spark, name):
    from bugzilla_etl_spark.operators import fulltext

    df = fulltext.QUERIES[name](spark, SF)
    plan = _plan(df)
    # stats and df joins are broadcast (tiny), final top-k is bounded;
    # per-doc array expressions leave no Window and at most 2 exchanges
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan, plan
    assert plan.count("Exchange") <= 2, plan
