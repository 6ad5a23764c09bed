#!/usr/bin/env python3
"""Paired A/B of two checkouts on one perfbench workload.

    python3 scripts/ab.py A_DIR B_DIR --workload ingest_default --seeds 31-40
        [--seconds 10] [--trace 0] [--out runs.json]

For each seed, runs `perfbench/run.py` once in each checkout, A first on
even pairs and B first on odd ones, so drift in the machine's state
does not favour one side. Prints, per end-to-end metric, each side's
median [q1, q3], the change of B's median against A's, and how many
pairs B won; then each side's correctness and failed-op count.
`--out` saves every run's result line, for the attempt arrays.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    if "-" in spec:
        lo, hi = spec.split("-", 1)
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def run(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(f"ab: {checkout} seed {seed} failed (exit {p.returncode}):\n"
                         + p.stderr[-2000:] + "\n")
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return med, q1, q3


def directions(checkout):
    """metric -> True when higher is better, from the checkout's BENCHMARK.json."""
    try:
        with open(os.path.join(checkout, "BENCHMARK.json")) as f:
            return {m["name"]: m["better"] == "higher" for m in json.load(f)["end_to_end"]}
    except (OSError, KeyError, ValueError):
        return {}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("a", help="checkout A (the baseline)")
    ap.add_argument("b", help="checkout B (the change)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a range lo-hi or a comma list")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--out", help="write every run's result line to this JSON file")
    a = ap.parse_args()

    sides = {"A": os.path.abspath(a.a), "B": os.path.abspath(a.b)}
    pairs = []
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ("A", "B") if i % 2 == 0 else ("B", "A")
        pair = {"seed": seed, "order": "".join(order)}
        for side in order:
            pair[side] = run(sides[side], a.workload, seed, a.seconds, a.trace)
        pairs.append(pair)
        print(f"pair {i + 1} seed {seed} order {pair['order']}: " + ", ".join(
            f"{s} " + ("failed" if pair[s] is None else
                       f"serve {pair[s]['metrics'].get('serve_p50_ms', {}).get('value', '-')}")
            for s in ("A", "B")), flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "checkouts": sides, "pairs": pairs}, f, indent=1)

    done = [p for p in pairs if p["A"] is not None and p["B"] is not None]
    if not done:
        sys.exit("ab: no pair completed")
    higher = directions(sides["A"])
    print(f"\n{a.workload}: {len(done)} complete pairs of {len(pairs)}, "
          f"order alternated, median [q1, q3]")
    for m in done[0]["A"]["metrics"]:
        va = [p["A"]["metrics"][m]["value"] for p in done]
        vb = [p["B"]["metrics"][m]["value"] for p in done]
        up = higher.get(m, False)
        wins = sum((y > x) if up else (y < x) for x, y in zip(va, vb))
        (ma, qa1, qa3), (mb, qb1, qb3) = quartiles(va), quartiles(vb)
        pct = (mb - ma) / ma * 100 if ma else float("nan")
        print(f"  {m:14s} A {ma:10.1f} [{qa1:.1f}, {qa3:.1f}]  B {mb:10.1f} [{qb1:.1f}, {qb3:.1f}]"
              f"  {pct:+6.1f}%  B better in {wins}/{len(done)}")
    for s in ("A", "B"):
        runs = [p[s] for p in pairs if p[s] is not None]
        print(f"  {s}: {sum(r['correct'] for r in runs)}/{len(pairs)} runs correct, "
              f"{sum(r['failed'] for r in runs)} failed ops")


if __name__ == "__main__":
    main()
