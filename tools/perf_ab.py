#!/usr/bin/env python3
"""Alternating A/B of the repo benchmark between two checkouts.

Usage:
    tools/perf_ab.py --parent DIR --change DIR --workload NAME --seeds 701-710
                     [--reference DIR] [--seconds 1] [--claim e2e_s] [--log FILE]

Runs `python3 perfbench/run.py --workload NAME --seed S --seconds N --trace 0`
in each checkout (its own build, its own `.bench_build/`), one run at a
time, for every seed: the parent first on even pair indexes, the change
first on odd ones. A parent checkout is best made with `git archive`
(`git archive HEAD~1 | tar -x -C DIR`), so both sides build from committed
files only.

Prints, for every end-to-end metric of the change's BENCHMARK.json, each
side's median and q1-q3 and the number of pairs the change won (ties count
for neither side), then the verdict of the A/B rule of the verify skill:
the change wins at least 9 of every 10 pairs AND the medians differ by more
than the parent's q1-q3 spread. With --reference, every seed also runs in
that checkout, and each seed's report digest of the change is compared with
the reference's; without it, with the parent's. Each run's result lines
are appended to --log as JSON.
Exit code: 0 when every run finished, 1 otherwise.
"""
import argparse
import json
import subprocess
import sys
import time
from pathlib import Path


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between order statistics."""
    s = sorted(xs)

    def q(p):
        k = (len(s) - 1) * p
        i = int(k)
        return s[i] + (s[min(i + 1, len(s) - 1)] - s[i]) * (k - i)
    return q(0.25), q(0.5), q(0.75)


def run(checkout, workload, seed, seconds, timeout):
    """One benchmark run; returns its context and result lines, or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"  {checkout} seed {seed}: timed out", file=sys.stderr)
        return None
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        print(f"  {checkout} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
        return None
    ctx, res = json.loads(lines[-2]), json.loads(lines[-1])
    return {"checkout": str(checkout), "seed": seed, "wall_s": round(time.time() - t0, 1),
            "digest": ctx.get("digest"), "problems": ctx.get("problems"),
            "machine": ctx.get("machine"), "correct": res["correct"],
            "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, type=Path)
    ap.add_argument("--change", required=True, type=Path)
    ap.add_argument("--reference", type=Path)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 701-710 or 701,703,720-725")
    ap.add_argument("--seconds", default="1")
    ap.add_argument("--claim", default="e2e_s", help="metric the verdict is printed for")
    ap.add_argument("--timeout", type=int, default=600)
    ap.add_argument("--log", type=Path)
    a = ap.parse_args()

    spec = json.loads((a.change / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    pairs, digests, ok = [], [], True
    ref = "reference" if a.reference else "parent"
    for i, seed in enumerate(seeds(a.seeds)):
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            order.reverse()
        if a.reference:
            order.append(("reference", a.reference))
        got = {}
        for side, checkout in order:
            r = run(checkout, a.workload, seed, a.seconds, a.timeout)
            ok &= r is not None
            if r is not None:
                r["side"] = side
                got[side] = r
                if a.log:
                    with open(a.log, "a") as f:
                        f.write(json.dumps(r) + "\n")
        if "parent" in got and "change" in got:
            pairs.append((got["parent"], got["change"]))
        line = [f"seed {seed}:"] + [
            f"{s} {got[s]['metrics'].get(a.claim, float('nan')):.2f}" for s in ("parent", "change")
            if s in got]
        if "change" in got and ref in got:
            same = got["change"]["digest"] == got[ref]["digest"]
            digests.append(same)
            line.append(f"digest {'==' if same else '!='} {ref}")
        print("  ".join(line), flush=True)

    if not pairs:
        sys.exit("no complete pair")
    n = len(pairs)
    print(f"\n{a.workload}: {n} pairs")
    print(f"{'metric':<14}{'parent median (q1-q3)':>32}{'change median (q1-q3)':>32}{'change won':>12}")
    verdicts = {}
    for name, dirn in better.items():
        ps = [p["metrics"][name] for p, _ in pairs]
        cs = [c["metrics"][name] for _, c in pairs]
        sign = -1 if dirn == "lower" else 1
        wins = sum(1 for p, c in zip(ps, cs) if sign * (c - p) > 0)
        (p1, pm, p3), (c1, cm, c3) = quartiles(ps), quartiles(cs)
        print(f"{name:<14}{pm:>14.3f} ({p1:.3f}-{p3:.3f}){cm:>14.3f} ({c1:.3f}-{c3:.3f})"
              f"{wins:>8}/{n}")
        verdicts[name] = (wins * 10 >= 9 * n and sign * (cm - pm) > p3 - p1, wins, cm - pm, p3 - p1)
    met, wins, gap, iqr = verdicts[a.claim]
    print(f"\nverdict on {a.claim}: {'GAIN' if met else 'no gain shown'} "
          f"(change won {wins}/{n}, needs >= {-(-9 * n // 10)}; "
          f"median gap {gap:+.3f} vs parent q1-q3 spread {iqr:.3f})")
    if digests:
        print(f"digest equal to {ref} on {sum(digests)}/{len(digests)} seeds")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
