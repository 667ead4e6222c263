#!/usr/bin/env python3
"""Fit the route cost model's constants from traced perfbench runs.

    python3 perfbench/run.py --workload search --seed 3 --seconds 20 \
        --trace 1 > run3.txt
    python3 tools/fit_gate.py run3.txt [run5.txt ...]

Each input is the stdout of one traced run: its ``info`` line (for the
run's cores) and its result line (``metrics``). Per run the fit is
exact, three equations for three unknowns:

- ``C_ITEM_MS`` and ``C_POST_MS`` solve ``execute = work_items * C_ITEM_MS
  + est_postings * C_POST_MS`` for the ``rare`` and ``hot`` classes
  (``execute_ms`` is the probe's driver-local ``local_ms`` minus its
  plan time: planning precedes the route choice, so the model prices
  execution only). ``rare`` (est ~66) prices the work item, ``hot`` (one
  query, est ~8k) the posting; ``batch8`` is left out of the fit because
  its eight queries share term reads, so its est overcounts the
  postings it decodes, and is printed as a check instead.
- ``WAVE_MS`` is ``query.spark_floor_ms`` (empty tasks, one per work item
  of the index) over ``ceil(work_items / cores)`` waves. The floor's
  item count is the largest class ``work_items``: exact on ``search``,
  whose index is one segment every query reaches.

Prints each run's fit, the model's batch8 check against the measured
routes, and the median fit over all runs in the form of the constants
in ``bugzilla_etl_spark/index/query.py``. Predictions and cutovers call
the engine's own ``query.route`` with the fitted constants. The fourth
constant, ``C_CAND_MS`` (requests whose estimate only bounds their
candidates), has no perfbench probe; ``tools/route_probe.py`` fits it.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from bugzilla_etl_spark.index.query import route  # noqa: E402


def read_run(path: str) -> tuple[dict, dict]:
    """(info, {metric: value}) of one run's stdout."""
    info, metrics = None, None
    with open(path) as f:
        for line in f:
            if not line.startswith("{"):
                continue
            d = json.loads(line)
            if "info" in d:
                info = d["info"]
            if "metrics" in d:
                metrics = {k: v["value"] for k, v in d["metrics"].items()}
    if info is None or metrics is None:
        raise SystemExit(f"{path}: no info line or no result line")
    if "query.spark_floor_ms" not in metrics:
        raise SystemExit(f"{path}: not a traced run (--trace 1)")
    return info, metrics


def fit(info: dict, q: dict) -> dict:
    def cls(c, name):
        return q[f"query.{c}.{name}"]

    a = np.array([[cls(c, "work_items"), cls(c, "est_postings")] for c in ("rare", "hot")])
    y = np.array([cls(c, "execute_ms") for c in ("rare", "hot")])
    c_item, c_post = np.linalg.solve(a, y)
    cores = int(info["cpus"])
    n_floor = max(cls(c, "work_items") for c in ("rare", "hot", "batch8"))
    wave = q["query.spark_floor_ms"] / math.ceil(n_floor / cores)
    return {"C_ITEM_MS": float(c_item), "C_POST_MS": float(c_post), "WAVE_MS": wave, "cores": cores}


def predict(f: dict, n_work: float, est: float, cores: int) -> tuple[str, float, float]:
    """The engine's route under the fit ``f``."""
    return route(n_work, est, cores, c_post_ms=f["C_POST_MS"], c_item_ms=f["C_ITEM_MS"], wave_ms=f["WAVE_MS"])


def cutover(f: dict, n_work: int, cores: int) -> int:
    """Largest est the model routes locally for ``n_work`` items."""
    lo, hi = 0, 10**10
    while hi - lo > 1:
        mid = (lo + hi) // 2
        lo, hi = (mid, hi) if predict(f, n_work, mid, cores)[0] == "local" else (lo, mid)
    return lo


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__)
        return 2
    fits = []
    for path in paths:
        info, q = read_run(path)
        f = fit(info, q)
        fits.append(f)
        n, est = q["query.batch8.work_items"], q["query.batch8.est_postings"]
        r, local, spark = predict(f, n, est, f["cores"])
        print(
            f"{path}: workload={info['workload']} seed={info['seed']} cores={f['cores']}"
            f"  C_ITEM_MS={f['C_ITEM_MS']:.2f} C_POST_MS={f['C_POST_MS']:.5f}"
            f" WAVE_MS={f['WAVE_MS']:.0f}\n"
            f"  batch8 (items {n:.0f}, est {est:.0f}): model local {local:.0f} ms /"
            f" spark {spark:.0f} ms -> {r};"
            f" measured execute {q['query.batch8.execute_ms']:.0f} ms /"
            f" spark {q['query.batch8.spark_ms']:.0f} ms"
        )
    med = {k: statistics.median(f[k] for f in fits) for k in ("C_ITEM_MS", "C_POST_MS", "WAVE_MS")}
    print(f"median over {len(fits)} run(s):")
    print(f"C_ITEM_MS = {med['C_ITEM_MS']:.1f}")
    print(f"C_POST_MS = {med['C_POST_MS']:.4f}")
    print(f"WAVE_MS = {med['WAVE_MS']:.0f}")
    for cores, n in ((4, 8), (32, 16)):
        print(f"cutover at {cores} cores, {n} items: est {cutover(med, n, cores)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
