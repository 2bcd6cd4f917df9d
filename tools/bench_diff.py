#!/usr/bin/env python3
"""Per-query bench regression gate.

Usage: bench_diff.py PREV.json CURR.json [THRESHOLD]

Diffs the per-query figures of two bench artifacts and FAILS (exit 1)
if any query present in both is slower than THRESHOLD x its prior
figure (default 1.5) AND slower by more than an absolute floor of
0.25 s — the floor keeps sub-100 ms jitter from tripping the gate on
queries whose wall time is dominated by fixed per-query overhead.
Also FAILS if a query that previously ran clean now errors (curr = -1)
or is missing from the current artifact — the worst regression class
(no timing at all) must not exit 0. Intentionally retiring a query
from the bench set means updating the baseline artifact alongside.

Accepted input shapes, auto-detected per file:
  1. A complete Bench.scala line:  {"metric":"total",...,"queries":{...}}
  2. A driver round record whose "tail" field holds a (possibly
     truncated) suffix of that line — every parseable "name":seconds
     pair is salvaged, so older rounds still yield a partial baseline.
"""
import json
import re
import sys

PAIR = re.compile(r'"([A-Za-z0-9_]+)":(-?\d+(?:\.\d+)?(?:[eE]-?\d+)?)')
NON_QUERY_KEYS = {"value", "n", "rc", "cpus", "sf"}

# Accepted step-changes: query -> (ceiling_s, reason). A query at or
# under its documented ceiling is exempt from the ratio gate — records
# a DELIBERATE algorithmic trade without loosening the gate for
# everything else; a regression past the ceiling still fails.
ACCEPTED = {
    # r7 rebuilt the exact all-pairs miner as triangle cell blocking
    # (bounded per-task pair space — no single reducer holds a label's
    # whole quadratic). ~2x at test SF, the scale-safety price; judged
    # and accepted in round 7. Clean-machine figure ~0.63 s.
    "dd_embed_simpairs": (0.9, "r7 cell blocking: bounded per-task pair space"),
    # r10 replaced the dense-ids `hash mod n` negative draw with a
    # hashed RANK into the actual doc-id set (r9 verdict task 6:
    # layout-independent for sparse/shifted ids). The rank table costs
    # one bucketed two-phase ranking pass over the id column that the
    # old row-local draw never paid. Clean-machine figure ~0.99 s.
    "tp_contrastive_pairs": (1.3, "r10 rank-based negatives: one ranking pass over the id column"),
    # r14 made the lane honest for queries whose RESULT is memoized:
    # Bench now resets the output-level holders (label table, BPE
    # merges, training chain) before each timed pass, so these rows
    # measure the kernel instead of a cached checkpoint read (the r13
    # verdict's one `weak`: gr_labelprop recorded 0.22 s vs ~5.9 s
    # solo and the gate was blind to its kernel). Ceilings = measured
    # rebuild cost + in-suite headroom.
    "gr_labelprop": (8.0, "r14 memo reset: row times the 5-round propagation again"),
    "ml_train_linear": (14.0, "r14 memo reset: row times the epoch chain again"),
    # r16 restored the level-sequential posting (the stacked single-
    # fence form OOMed executor hash aggregates at sf10): five
    # sequential exchanges instead of one stacked one, bounded peak
    # footprint. Measured 6.6 s idle solo at sf0.1 (caca485's own
    # figure; PLANS.md "SUPERSEDED for dd_dup_profile").
    "dd_dup_profile": (8.0, "r16 level-sequential posting: bounded peak footprint vs sf10 OOM"),
}


def load_queries(path):
    with open(path) as f:
        text = f.read()
    try:
        obj = json.loads(text)
    except json.JSONDecodeError:
        obj = None
    if isinstance(obj, dict) and isinstance(obj.get("queries"), dict):
        return {k: float(v) for k, v in obj["queries"].items()}, True
    # driver record: salvage pairs from the truncated tail (the first
    # pair after truncation may have lost leading digits — drop it by
    # skipping anything before the first '"' in the tail)
    tail = obj.get("tail", text) if isinstance(obj, dict) else text
    pairs = {}
    for m in PAIR.finditer(tail[tail.find('"'):]):
        k, v = m.group(1), float(m.group(2))
        if k not in NON_QUERY_KEYS:
            pairs[k] = v
    return pairs, False


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    prev_path, curr_path = sys.argv[1], sys.argv[2]
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    floor_s = 0.25

    prev, prev_full = load_queries(prev_path)
    curr, curr_full = load_queries(curr_path)
    if not prev_full:
        print(f"note: {prev_path} is a truncated driver record; "
              f"baseline covers {len(prev)} queries")
    if not curr:
        sys.exit(f"error: no per-query figures found in {curr_path}")

    common = sorted(set(prev) & set(curr), key=lambda k: -(curr[k] / prev[k] if prev[k] > 0 else 0))
    added = sorted(set(curr) - set(prev))
    removed = sorted(set(prev) - set(curr))

    regressions = []
    # worst regression class first: a query that previously ran clean and
    # now errors (curr = -1) or vanished from the artifact entirely is a
    # FAILURE, not an informational note — the timing gate must not exit
    # 0 for a query that stopped producing a timing at all
    broken = sorted(k for k in common if prev[k] > 0 and curr[k] < 0)
    vanished = sorted(k for k in removed if prev[k] > 0)
    print(f"{'query':32s} {'prev_s':>9s} {'curr_s':>9s} {'ratio':>7s}")
    for k in common:
        if prev[k] <= 0 or curr[k] < 0:
            continue  # errored rows handled as `broken` below
        ratio = curr[k] / prev[k]
        flag = ""
        if ratio > threshold and (curr[k] - prev[k]) > floor_s:
            if k in ACCEPTED and curr[k] <= ACCEPTED[k][0]:
                flag = f"  (accepted step-change: {ACCEPTED[k][1]})"
            else:
                regressions.append(k)
                flag = "  << REGRESSION"
        print(f"{k:32s} {prev[k]:9.3f} {curr[k]:9.3f} {ratio:6.2f}x{flag}")

    pt = sum(prev[k] for k in common if prev[k] > 0 and curr[k] >= 0)
    ct = sum(curr[k] for k in common if prev[k] > 0 and curr[k] >= 0)
    print(f"\ncomparable total: {pt:.1f}s -> {ct:.1f}s over {len(common)} queries")
    if added:
        print(f"new queries ({len(added)}): {', '.join(added)}")
    if removed:
        print(f"no longer benched ({len(removed)}): {', '.join(removed)}")

    failures = []
    if broken:
        failures.append(f"{len(broken)} now erroring (curr < 0): {', '.join(broken)}")
    if vanished:
        failures.append(f"{len(vanished)} vanished from current artifact: "
                        f"{', '.join(vanished)}")
    if regressions:
        failures.append(f"{len(regressions)} regressed >{threshold}x "
                        f"(+{floor_s}s floor): {', '.join(regressions)}")
    if failures:
        print("\nFAIL: " + "; ".join(failures))
        sys.exit(1)
    print(f"\nOK: no query regressed >{threshold}x (+{floor_s}s floor), "
          f"errored, or vanished")


if __name__ == "__main__":
    main()
