#!/usr/bin/env python3
"""Paired A/B of two revisions on one perfbench workload.

    python3 tools/ab.py --workload rag_serve --pairs 10 --seed 1301 \\
        --base HEAD~1 [--seconds 10] [--trace 0] [--out ab.jsonl]

The base revision is exported with `git archive` into a fresh directory
under /tmp, removed again when the script exits; the change side is the
checkout this script sits in, uncommitted edits included. Pair i runs
`perfbench/run.py` once per side with seed `--seed + i`; the side that
goes first flips every pair, so a drift in machine load falls on both
sides alike. Each run is a separate process, built and timed by the
revision's own perfbench.

For every metric the runs report it prints base and change q1/median/q3,
the change's median move, how many pairs the change won (lower or higher
is better as BENCHMARK.json says), whether the median gap exceeds the
base's IQR, and, for the metrics BENCHMARK.json bounds, whether the
change stays inside the bound and whether the base's own spread already
exceeds it (then the metric is unresolved). Every run's result line,
with perfbench's summary lines (a traced run's layer breakdown), is
appended to `--out` as one JSON object.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev):
    """`rev`'s committed tree in a fresh directory under /tmp."""
    sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "--verify", rev + "^{commit}"],
                         check=True, stdout=subprocess.PIPE, text=True).stdout.strip()
    dest = tempfile.mkdtemp(prefix=f"ab_{sha[:10]}_", dir="/tmp")
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"ab: git archive {rev} failed")
    return sha, dest


def run_once(checkout, workload, seed, seconds, trace):
    """One perfbench run in `checkout`: its result object, or None if it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t = time.time()
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        print(f"  run failed (exit {r.returncode}): {r.stderr.strip()[-400:]}", file=sys.stderr)
        return None
    res = json.loads(lines[-1])
    res["wall_s"] = round(time.time() - t, 1)
    # perfbench's human-readable lines: a traced run's layer-call breakdown
    res["summary"] = [ln for ln in lines[:-1] if ln.startswith("#")]
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[1], q[2]


def directions(checkout):
    """metric -> (better, bound or None), from the checkout's BENCHMARK.json."""
    path = os.path.join(checkout, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        spec = json.load(fh)
    out = {m["name"]: (m["better"], m.get("bound")) for m in spec.get("per_layer", [])}
    out.update({m["name"]: (m["better"], m.get("bound")) for m in spec.get("end_to_end", [])})
    return out


def report(pairs, dirs):
    names = sorted({k for b, c in pairs for k in b["metrics"]} &
                   {k for b, c in pairs for k in c["metrics"]})
    print(f"{'metric':<18} {'base q1/med/q3':>28} {'change q1/med/q3':>28} "
          f"{'move':>8} {'wins':>6}  gap>IQR  bound")
    for name in names:
        both = [(b["metrics"][name]["value"], c["metrics"][name]["value"]) for b, c in pairs
                if name in b["metrics"] and name in c["metrics"]
                and b["metrics"][name]["value"] is not None
                and c["metrics"][name]["value"] is not None]
        if not both:
            continue
        better, bound = dirs.get(name, ("lower", None))
        sign = 1 if better == "lower" else -1
        base = [b for b, _ in both]
        chg = [c for _, c in both]
        bq, cq = quartiles(base), quartiles(chg)
        wins = sum(1 for b, c in both if sign * (b - c) > 0)
        move = (cq[1] - bq[1]) / bq[1] if bq[1] else float("nan")
        gap = sign * (bq[1] - cq[1]) > bq[2] - bq[0]
        verdict = ""
        if bound is not None:
            spread = (bq[2] - bq[0]) / bq[1] if bq[1] else float("inf")
            worse = sign * (cq[1] - bq[1]) / bq[1] if bq[1] else 0.0
            verdict = ("unresolved (base IQR %.0f%% > bound)" % (100 * spread) if spread > bound
                       else "outside bound" if worse > bound else "inside")
        fmt = lambda q: "%.4g/%.4g/%.4g" % q
        print(f"{name:<18} {fmt(bq):>28} {fmt(cq):>28} {100 * move:>+7.1f}% "
              f"{wins:>2}/{len(both):<3}  {'yes' if gap else 'no ':<7}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--base", default="HEAD", help="revision to compare against")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append every run's result here, one JSON line each")
    a = ap.parse_args()

    base_sha, base_dir = export(a.base)
    try:
        print(f"base {base_sha[:10]} in {base_dir}; change: this checkout")
        pairs, failed = [], 0
        for i in range(a.pairs):
            seed = a.seed + i
            sides = [("base", base_dir), ("change", ROOT)]
            if i % 2:
                sides.reverse()
            got = {}
            for side, checkout in sides:
                res = run_once(checkout, a.workload, seed, a.seconds, a.trace)
                got[side] = res
                if a.out and res is not None:
                    with open(a.out, "a") as fh:
                        fh.write(json.dumps(dict(res, side=side, pair=i, seed=seed,
                                                 workload=a.workload, trace=a.trace,
                                                 revision=base_sha if side == "base"
                                                 else "worktree")) + "\n")
                brief = ("FAILED" if res is None else
                         " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                                  if isinstance(v["value"], (int, float))))
                print(f"pair {i} seed {seed} {side:<6} {brief}"
                      + ("" if res is None else f" failed={res['failed']}"), flush=True)
            if got["base"] is None or got["change"] is None:
                failed += 1
                continue
            pairs.append((got["base"], got["change"]))
        print(f"\n{len(pairs)} complete pairs, {failed} with a failed run; "
              f"operations failed: base {sum(b['failed'] for b, _ in pairs)}, "
              f"change {sum(c['failed'] for _, c in pairs)}")
        if pairs:
            report(pairs, directions(ROOT))
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
