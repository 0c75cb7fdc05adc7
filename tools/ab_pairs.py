"""Paired A/B of two checkouts on one benchmark workload.

    python tools/ab_pairs.py PARENT CHANGE --workload er_vocab --seeds 411-420

PARENT and CHANGE are checkout roots of the repository. For each seed the
tool runs ``perfbench/run.py --workload W --seed S --seconds T --trace 0``
once in each checkout, one after the other: the parent first on even
seeds, the change first on odd seeds, so neither side always runs on a
warmer or cooler host. ``--seconds`` defaults to ``run_seconds`` of the
change's ``BENCHMARK.json``, which also gives each end-to-end metric's
direction.

It prints, per end-to-end metric, each side's median and quartiles, the
pairs the change won (ties count for neither side) and whether the gain
rule holds: the change wins at least nine tenths of the pairs, the
medians differ by more than the parent's interquartile range, and no
larger share of the change's operations failed than of the parent's. It
also says whether ``pairwise_f1`` is equal per seed and how many
operations failed on each side. ``--out`` appends every run's result as a JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")


def parse_seeds(spec: str) -> list[int]:
    """'411-420' or '3,5,8' (or a mix: '1-3,9')."""
    seeds: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One benchmark run in ``checkout``; its JSON result line."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(
        cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: {' '.join(cmd)} exited {proc.returncode}")
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarize(results: list[dict], directions: dict[str, str]) -> list[str]:
    """Report lines for ``results``: one dict per seed, {side: result}."""
    lines = []
    n = len(results)
    failed = {s: sum(r[s]["failed"] for r in results) for s in SIDES}
    attempted = {s: sum(r[s]["attempted"] for r in results) for s in SIDES}
    fail_share = {s: failed[s] / max(attempted[s], 1) for s in SIDES}
    no_more_failures = fail_share["change"] <= fail_share["parent"]
    for metric, better in directions.items():
        vals = {s: [r[s]["metrics"][metric]["value"] for r in results] for s in SIDES}
        sign = 1.0 if better == "higher" else -1.0
        wins = sum(sign * (c - p) > 0 for p, c in zip(vals["parent"], vals["change"]))
        losses = sum(sign * (c - p) < 0 for p, c in zip(vals["parent"], vals["change"]))
        (p1, pm, p3), (c1, cm, c3) = quartiles(vals["parent"]), quartiles(vals["change"])
        gain = wins >= 0.9 * n and sign * (cm - pm) > p3 - p1 and no_more_failures
        lines.append(
            f"{metric} ({better} is better): parent {pm:.6g} ({p1:.6g}/{p3:.6g}) -> "
            f"change {cm:.6g} ({c1:.6g}/{c3:.6g}); change better in {wins}/{n} pairs, "
            f"worse in {losses}; gain rule {'met' if gain else 'not met'}"
        )
    f1 = [
        r["parent"]["metrics"]["pairwise_f1"]["value"]
        == r["change"]["metrics"]["pairwise_f1"]["value"]
        for r in results
    ]
    lines.append(f"pairwise_f1 equal per seed: {sum(f1)}/{n}")
    for s in SIDES:
        lines.append(f"{s}: {failed[s]} of {attempted[s]} operations failed")
    return lines


def main(argv=None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent", help="checkout root of the parent commit")
    p.add_argument("change", help="checkout root of the change")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 411-420 or 3,5,8")
    p.add_argument("--seconds", type=float, help="default: BENCHMARK.json run_seconds")
    p.add_argument("--out", help="append each run's result here as a JSON line")
    args = p.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    directions = {m["name"]: m["better"] for m in bench["end_to_end"]}
    roots = {"parent": args.parent, "change": args.change}

    results = []
    for seed in parse_seeds(args.seeds):
        order = SIDES if seed % 2 == 0 else SIDES[::-1]
        pair = {}
        for side in order:
            pair[side] = run_once(roots[side], args.workload, seed, seconds)
            docs = pair[side]["metrics"]["docs_per_s"]["value"]
            print(f"seed {seed} {side}: docs_per_s={docs:.6g}", flush=True)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"seed": seed, "side": side, **pair[side]}) + "\n")
        results.append(pair)
    print(f"# {args.workload}, {len(results)} pairs, {seconds:g} s runs")
    for line in summarize(results, directions):
        print(line)


if __name__ == "__main__":
    main()
