#!/usr/bin/env python3
"""Interleaved A/B runs of the benchmark on two checkouts.

    python3 perfbench/ab.py --parent ../parent --change . \
        --workload ontology_hpo18k --pairs 10 --out ab.jsonl

Both sides run this file's own ``run.py`` (identical benchmark code and
session settings) from the root of their checkout, one run per side per
pair, with the same seed inside a pair and a new seed per pair. The side
that runs first alternates from pair to pair. CPU steal is sampled from
/proc/stat around every run, since a shared host's steal moves timings.

Every run is appended to ``--out`` as one JSON line. The summary gives,
per end-to-end metric, each side's median and quartiles, how many pairs
the change won, and the verdict of the rule in NOTES.md: a gain needs at
least 9 wins in 10 pairs, a median difference larger than the spread
(interquartile range) of the parent's own runs, and no more failures on
the change than on the parent. Each side's failures (failed reps, plus
runs that exited non-zero or were incorrect) are printed too.

The run length is always BENCHMARK.json's ``run_seconds``, so that both
sides and the benchmark itself measure alike.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SEED0 = 1000  # pair i runs seed SEED0 + i on both sides


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def run_side(root: str, workload: str, seed: int, seconds: int) -> dict:
    steal0, total0 = cpu_times()
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, capture_output=True, text=True,
    )
    wall = time.perf_counter() - t
    steal1, total1 = cpu_times()
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    return {
        "returncode": proc.returncode,
        "wall_s": wall,
        "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "result": result,
    }


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def failures(records: list[dict], side: str) -> int:
    """Failed reps plus failed (non-zero exit) or incorrect runs of one side."""
    n = 0
    for r in records:
        if r["side"] == side:
            res = r["result"]
            n += res is None or not res["correct"]
            n += res["failed"] if res is not None else 0
    return n


def summarize(records: list[dict], spec: list[dict]) -> list[str]:
    fails = {side: failures(records, side) for side in ("parent", "change")}
    lines = []
    pairs: dict[int, dict] = {}
    for r in records:
        if r["result"] is not None:
            pairs.setdefault(r["pair"], {})[r["side"]] = r["result"]["metrics"]
    for m in spec:
        name, lower = m["name"], m["better"] == "lower"
        both = [p for p in pairs.values() if "parent" in p and "change" in p
                and name in p["parent"] and name in p["change"]]
        if not both:
            continue
        par = [p["parent"][name]["value"] for p in both]
        chg = [p["change"][name]["value"] for p in both]
        wins = sum((c < a) if lower else (c > a) for a, c in zip(par, chg))
        pq, cq = quartiles(par), quartiles(chg)
        gain = (wins >= 0.9 * len(both) and abs(cq[1] - pq[1]) > (pq[2] - pq[0])
                and fails["change"] <= fails["parent"])
        worse = (cq[1] - pq[1]) if lower else (pq[1] - cq[1])
        regress = worse > m.get("bound", float("inf")) * abs(pq[1])
        verdict = "gain" if gain else "regression" if regress else "no claim"
        lines.append(
            f"{name}: parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]  "
            f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  "
            f"change wins {wins}/{len(both)}  -> {verdict}"
        )
    steal = [r["steal_pct"] for r in records]
    lines.append(f"failures (failed reps + failed or incorrect runs): "
                 f"parent {fails['parent']}, change {fails['change']}"
                 + ("  -> no gain counts" if fails["change"] > fails["parent"] else ""))
    lines.append(f"steal: median {statistics.median(steal):.2f}% max {max(steal):.2f}%; "
                 f"runs {len(records)}")
    return lines


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--parent", required=True, help="root of the parent checkout")
    p.add_argument("--change", required=True, help="root of the changed checkout")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--out", default="ab.jsonl")
    args = p.parse_args(argv)

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    roots = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    records = []
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            rec = {"pair": i, "side": side, "first": order[0], "seed": SEED0 + i,
                   **run_side(roots[side], args.workload, SEED0 + i, seconds)}
            records.append(rec)
            with open(args.out, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            res = rec["result"] or {}
            brief = {k: round(v["value"], 4) for k, v in res.get("metrics", {}).items()}
            print(f"pair {i} {side}: steal {rec['steal_pct']:.2f}% {brief}", flush=True)
    print("\n".join(summarize(records, bench["end_to_end"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
