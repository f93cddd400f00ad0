#!/usr/bin/env python3
"""Compare two bench JSON lines (graft.Bench output): per-query deltas,
family rollups, and the median per-query ratio that separates real
movement from shared-box noise (the r19 lesson in the verify skill).

Usage: python3 scripts/bench_diff.py OLD.json NEW.json [topN]
"""
import json
import statistics
import sys


def load(p):
    with open(p) as f:
        txt = f.read()
    # tolerate sbt "[info] " prefixes and surrounding noise
    for line in txt.splitlines():
        line = line.strip()
        if line.startswith('[info] '):
            line = line[len('[info] '):]
        if line.startswith('{') and '"queries"' in line:
            return json.loads(line)
    raise SystemExit(f"no bench line in {p}")


def failed_of(board):
    """Queries one board failed: the -1.0 sentinel or its failed list."""
    return ({q for q, v in board["queries"].items() if v < 0} |
            set(board.get("failed") or []))


def main(old_p, new_p, top_n=25):
    old, new = load(old_p), load(new_p)
    oq, nq = old["queries"], new["queries"]
    # Bench's -1.0 sentinel marks a FAILED query; folding it into
    # totals/ratios would deflate NEW and read as a huge "improvement"
    # (the r10 failure mode renderLine exists to prevent). Drop failed
    # entries from the arithmetic and warn as loudly as REMOVED. Each
    # board's failures are named apart, so a new failure is never
    # mistaken for a recovery.
    failed_old, failed_new = failed_of(old), failed_of(new)
    failed = failed_old | failed_new
    if failed_new:
        print(f"FAILED in NEW (excluded from totals/ratios — "
              f"a red board, not a speedup!): {sorted(failed_new)}")
    if failed_old:
        print(f"failed in OLD (excluded from totals/ratios): "
              f"{sorted(failed_old)}; recovered in NEW: "
              f"{sorted(failed_old - failed_new)}")
    oq = {q: v for q, v in oq.items() if v >= 0 and q not in failed}
    nq = {q: v for q, v in nq.items() if v >= 0 and q not in failed}
    common = sorted(set(oq) & set(nq))
    only_old = sorted(set(oq) - set(nq))
    only_new = sorted(set(nq) - set(oq))
    if only_old:
        print(f"REMOVED queries (regression hazard!): {only_old}")
    if only_new:
        print(f"added queries: {only_new}")
    if not common:
        raise SystemExit("no common queries between the two boards "
                         "(disjoint SPARK_GRAFT_BENCH_ONLY filters?)")
    so = sum(oq[q] for q in common)
    sn = sum(nq[q] for q in common)
    ratios = [nq[q] / max(oq[q], 1e-9) for q in common]
    print(f"common {len(common)}: {so:.1f}s -> {sn:.1f}s "
          f"(ratio {sn / so:.3f}, median per-query ratio "
          f"{statistics.median(ratios):.3f})")
    fams = {}
    for q in common:
        f = q.split('_')[0]
        a, b = fams.get(f, (0.0, 0.0))
        fams[f] = (a + oq[q], b + nq[q])
    print("\nfamily rollup (old -> new, delta):")
    for f, (a, b) in sorted(fams.items(), key=lambda kv: kv[1][0] - kv[1][1]):
        if abs(b - a) >= 0.15:
            print(f"  {f:>4}: {a:7.2f} -> {b:7.2f}  ({b - a:+.2f})")
    deltas = sorted(common, key=lambda q: nq[q] - oq[q])
    print(f"\ntop {top_n} improvements:")
    for q in deltas[:top_n]:
        d = nq[q] - oq[q]
        if d < -0.05:
            print(f"  {oq[q]:7.2f} -> {nq[q]:7.2f} ({d:+.2f})  {q}")
    print(f"\ntop {top_n} regressions:")
    for q in reversed(deltas[-top_n:]):
        d = nq[q] - oq[q]
        if d > 0.05:
            print(f"  {oq[q]:7.2f} -> {nq[q]:7.2f} ({d:+.2f})  {q}")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 25)
