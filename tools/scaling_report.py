#!/usr/bin/env python3
"""Scaling report over a multi-SF bench_out.json.

Reads the bench artifact and prints per-query ratios for every adjacent
SF pair it carries: the secondary small pass vs the primary
(sf0.01 -> sf0.1 by default), and — when the artifact has a
`queries_sf1` block (Bench run with SPARK_GRAFT_SF1_DIR, e.g. the
GenData output) — the primary vs sf1 decade. Rows whose ratio exceeds
the plausibility cap once times are above the fixed per-query session
floor are flagged; for a 10x data step the cap is ~12x (10x + slack).
Each flagged row is either a plan problem (super-linear operator) or
measurement noise, and needs a diagnosis before a scaling claim stands
(VERDICT r5 item 1). Inverted rows (small > big beyond noise) are also
flagged — Bench re-measures those itself (outliers_small), so any
survivor here is real.

Produce the artifact with `sbt "runMain graft.Bench"` (suite mode: no
query names; `graft.Bench <query>...` prints plans and stage tables
instead and writes no artifact). The artifact's `provenance` block
(commit, dirty, cpus, java, sf_dirs, time) is printed as the report's
first line when present.
"""
import json
import sys

FLOOR = 0.15   # sec; fixed per-query session cost (Bench.OverheadFloor)
CAP = 12.0     # plausibility cap for a 10x data step (Bench.RatioCap)
INV = 1.5      # inverted-row flag: small exceeds big by > this factor


def report(title, big, small, total_big, total_small):
    rows = []
    for name, t_big in big.items():
        t_small = small.get(name)
        if t_small is None:
            continue
        ratio = t_big / max(t_small, FLOOR)
        rows.append((ratio, name, t_big, t_small))
    rows.sort(reverse=True)
    flagged = [r for r in rows if r[0] > CAP]
    inverted = [r for r in rows
                if r[3] > max(r[2], FLOOR) * INV]
    print(f"== {title}: total {total_small:.1f}s -> {total_big:.1f}s "
          f"({total_big / max(total_small, 1e-9):.2f}x), queries={len(rows)}")
    print(f"{'query':<28}{'big_s':>8}{'small_s':>9}{'ratio':>7}")
    for ratio, name, t_big, t_small in rows[:25]:
        mark = "  <-- over cap" if ratio > CAP else ""
        print(f"{name:<28}{t_big:>8.2f}{t_small:>9.2f}{ratio:>7.1f}{mark}")
    med = sorted(r[0] for r in rows)[len(rows) // 2]
    print(f"median ratio {med:.2f}; {len(flagged)} over the {CAP:.0f}x cap; "
          f"{len(inverted)} inverted")
    for _, name, t_big, t_small in inverted:
        print(f"  INVERTED {name}: small {t_small:.2f}s > big {t_big:.2f}s")
    print()
    return len(flagged) + len(inverted)


def main(path: str) -> None:
    with open(path) as f:
        b = json.loads(f.read())
    big, small = b["queries"], b.get("queries_small", {})
    sf1 = b.get("queries_sf1", {})
    if not small and not sf1:
        sys.exit(f"{path} has no secondary pass — not a multi-SF artifact")
    if b.get("provenance"):
        print("provenance:", json.dumps(b["provenance"], sort_keys=True))
    bad = 0
    if small:
        bad += report(f"{b.get('sf_small')} -> {b.get('sf')}",
                      big, small, b["value"], b.get("total_small", 0))
    if sf1:
        bad += report(f"{b.get('sf')} -> {b.get('sf1_dir')}",
                      sf1, big, b.get("total_sf1", 0), b["value"])
    for key in ("outliers", "outliers_small", "outliers_sf1"):
        if b.get(key):
            print(f"spliced {key}:", json.dumps(b[key]))
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "bench_out.json")
