"""Guard: every aggregation entry runs on one bucket scorer and one driver.

``index/aggs.py`` serves terms, cardinality, range, histogram,
date_histogram, stats, percentiles, significant_terms/_text, filters,
adjacency_matrix, count, missing, composite and multi_agg from the same
``_make_multi_agg_bucket`` (the only place that evaluates the gate) and
the same ``_run_aggs`` driver (the only caller of the bucket executor).
A second factory or a second gate/executor call is a forked scorer whose
partials can drift from the others.
"""

from __future__ import annotations

import pathlib
import re

AGGS = (
    pathlib.Path(__file__).resolve().parents[1]
    / "bugzilla_etl_spark" / "index" / "aggs.py"
)


def test_one_bucket_factory():
    src = AGGS.read_text()
    assert re.findall(r"^def (_make_\w*_bucket)\(", src, re.M) == [
        "_make_multi_agg_bucket"
    ]


def test_one_gate_call_and_one_executor_call():
    src = AGGS.read_text()
    assert len(re.findall(r"\b_gate_survivors\(", src)) == 1
    assert len(re.findall(r"\b_execute_buckets\(", src)) == 1
