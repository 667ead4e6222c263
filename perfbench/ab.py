#!/usr/bin/env python3
"""Run the benchmark over seeds and compare two checkouts (A/B).

Run, from the repository root:

    python3 perfbench/ab.py run --out ab.jsonl --workload search \
        --seeds 1-10 --a ../parent --b .

runs ``perfbench/run.py`` in each checkout once per seed, alternating
which side goes first from one seed to the next, and appends one JSON
line per run to ``--out``. With only ``--a`` it measures one checkout
(a stability run). Then

    python3 perfbench/ab.py report ab.jsonl

prints, per workload and metric, each side's median and quartiles and
their spread (quartile distance over the median). With two sides it
adds the fraction of seeds B wins (ties count for neither) and a
verdict: a gain needs B to win at least 9 in 10 seeds and the medians
to differ by more than A's quartile distance; a regression is B's
median worse than A's by more than the metric's bound; a metric whose
spread exceeds its bound is unresolved unless every B run beats every
A run. Traced and untraced runs of one side give the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def seed_list(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_one(checkout: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=900)
    rec = {"dir": os.path.abspath(checkout), "workload": workload, "seed": seed,
           "trace": trace, "rc": p.returncode, "wall_s": time.monotonic() - t0}
    lines = p.stdout.strip().splitlines()
    if p.returncode == 0 and len(lines) >= 2:
        rec.update(json.loads(lines[-2]), result=json.loads(lines[-1]))
    else:
        rec["stderr_tail"] = p.stderr[-2000:]
    return rec


def cmd_run(a) -> None:
    sides = [("A", a.a)] + ([("B", a.b)] if a.b else [])
    with open(a.out, "a") as out:
        for i, seed in enumerate(seed_list(a.seeds)):
            for workload in a.workload:
                order = sides if i % 2 == 0 else sides[::-1]
                for side, checkout in order:
                    rec = run_one(checkout, workload, seed, a.seconds, a.trace)
                    rec["side"] = side
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    res = rec.get("result", {})
                    print(f"{side} {workload} seed={seed} rc={rec['rc']} "
                          f"wall={rec['wall_s']:.1f}s correct={res.get('correct')}", flush=True)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def cmd_report(a) -> None:
    with open(a.bench) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    recs = [json.loads(line) for path in a.files for line in open(path) if line.strip()]
    bad = [r for r in recs if not r.get("result", {}).get("correct")]
    for r in bad:
        print(f"FAILED RUN: {r['side']} {r['workload']} seed={r['seed']} rc={r['rc']}")
    groups = defaultdict(lambda: defaultdict(dict))  # (workload, trace) -> side -> seed -> rec
    for r in recs:
        if r not in bad:
            groups[(r["workload"], r["trace"])][r["side"]][r["seed"]] = r
    for (workload, trace), sides in sorted(groups.items()):
        print(f"\n== {workload} trace={trace}")
        walls = [r["wall_s"] for s in sides.values() for r in s.values()]
        print(f"   runs={len(walls)} wall_s median={statistics.median(walls):.1f} max={max(walls):.1f}")
        names = sorted({n for s in sides.values() for r in s.values() for n in r["result"]["metrics"]})
        for name in names:
            m = spec.get(name, {})
            bound, better = m.get("bound"), m.get("better", "lower")
            vals = {side: [r["result"]["metrics"][name]["value"] for r in recs_.values()]
                    for side, recs_ in sides.items()}
            cells = []
            for side in sorted(vals):
                q1, q2, q3 = quartiles(vals[side])
                spread = (q3 - q1) / q2 if q2 else 0.0
                cells.append(f"{side}: med={q2:.6g} q1={q1:.6g} q3={q3:.6g} spread={spread:.3f}")
            line = f"   {name:40s} " + " | ".join(cells)
            if "A" in vals and "B" in vals:
                line += "  " + verdict(sides, name, bound, better)
            elif bound is not None:
                q1, q2, q3 = quartiles(vals["A"])
                line += f"  bound={bound} {'OK' if (q3 - q1) / q2 <= bound else 'OVER BOUND'}"
            print(line)
        for side in sorted(sides):
            other = groups.get((workload, 1 - trace), {}).get(side)
            if trace == 1 and other:
                traced = statistics.median(r["result"]["metrics"]["trace.call_p50_ms"]["value"]
                                           for r in sides[side].values())
                plain = statistics.median(r["result"]["metrics"]["call_p50_ms"]["value"]
                                          for r in other.values())
                print(f"   tracing overhead {side}: call_p50 {traced:.3f} ms traced vs "
                      f"{plain:.3f} ms untraced ({(traced - plain) / plain:+.1%})")


def verdict(sides: dict, name: str, bound: float | None, better: str) -> str:
    seeds = sorted(set(sides["A"]) & set(sides["B"]))
    a = [sides["A"][s]["result"]["metrics"][name]["value"] for s in seeds]
    b = [sides["B"][s]["result"]["metrics"][name]["value"] for s in seeds]
    sign = 1 if better == "higher" else -1
    wins = sum(sign * (y - x) > 0 for x, y in zip(a, b))
    q1, ma, q3 = quartiles(a)
    mb = statistics.median(b)
    frac = wins / len(seeds)
    gain = sign * (mb - ma)
    if frac >= 0.9 and gain > q3 - q1:
        v = "GAIN"
    elif bound is not None and -gain > bound * abs(ma):
        v = "REGRESSION"
    elif bound is not None and (q3 - q1) / ma > bound and not (
        min(b) > max(a) if better == "higher" else max(b) < min(a)
    ):
        v = "UNRESOLVED"
    else:
        v = "no change"
    return f"B wins {wins}/{len(seeds)} ({frac:.0%}) -> {v}"


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--workload", action="append", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--a", default=".")
    r.add_argument("--b")
    r.add_argument("--seconds", type=int, default=20)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    rep = sub.add_parser("report")
    rep.add_argument("files", nargs="+")
    rep.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = p.parse_args(argv)
    cmd_run(a) if a.cmd == "run" else cmd_report(a)


if __name__ == "__main__":
    main()
