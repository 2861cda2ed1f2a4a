#!/usr/bin/env python3
"""Rising-run detector over a Bench per-query artifact (verdict r16 item
#2): min-of-N deliberately hides a within-cell monotone RISE (run3 slower
than run1 — storage/state accumulating inside the JVM across a query's own
runs), and the medians sidecar only catches uniform ambient shifts. Four
r16 cells with this signature (3 of them fused-CC consumers) were found by
judge inspection; this makes them self-announcing.

Flags any cell where the LAST raw run exceeds 1.5x the FIRST and the
absolute delta exceeds 0.5 s; annotates whether the cell is strictly
monotone (every run slower than the previous — the strongest form).
The common benign shape (run1 slowest = JIT warm-up) can never trip this.

Also surfaces the artifact's ambient-state calibration (verdict r17 item
#3: Bench times one fixed cheap query at pass start/middle/end and labels
the pass high_state when the probe median exceeds 1.5x its known floor).

Usage: rising_runs.py <bench_queries.json> [...]
Exit code bits: 1 = rising cell(s) flagged or an artifact unreadable
(reported, and the remaining files are still checked), 2 = high-state
calibration.
"""
import json
import sys

RATIO, DELTA = 1.5, 0.5

rc = 0
for path in sys.argv[1:]:
    d = json.load(open(path))
    flagged = []
    # r19 sidecar shape: "queries" is the flat name->seconds contract map
    # and the per-run detail lives under "queries_detail"; pre-r19
    # artifacts keep the detail cells directly under "queries".
    cells = d["queries_detail"] if "queries_detail" in d else d["queries"]
    bad = None
    for name, cell in sorted(cells.items()):
        # Chronological order lives ONLY in runs_raw; the `runs` list is
        # sorted ascending, so reading it as execution order would make
        # every >=1.5x-spread cell look rising (ADVICE r17) — refuse
        # artifacts without it rather than misread them.
        if not isinstance(cell, dict):
            bad = (f"cell {name!r} is not a per-run detail object "
                   "(artifact has no queries_detail block)")
        elif "runs_raw" not in cell:
            bad = (f"cell {name!r} has no runs_raw "
                   "(artifact too old for this detector)")
        if bad:
            break
        runs = cell["runs_raw"]
        if len(runs) < 2:
            continue
        first, last = runs[0], runs[-1]
        if last > RATIO * first and last - first > DELTA:
            mono = all(b > a for a, b in zip(runs, runs[1:]))
            flagged.append((name, runs, mono))
    if bad:
        print(f"{path}: {bad}", file=sys.stderr)
        rc |= 1
        continue
    print(f"{path}: {len(flagged)} rising cell(s) / {len(cells)} queries")
    for name, runs, mono in flagged:
        shape = "monotone" if mono else "rising"
        print(f"  RISING {name:<28} {[round(r, 2) for r in runs]}  [{shape}]")
    rc |= 1 if flagged else 0
    calib = d.get("calibration")
    if calib:
        state = "HIGH-STATE" if calib.get("high_state") else "low-state"
        print(f"  calibration {calib['query']}: "
              f"{[round(r, 3) for r in calib['runs']]} "
              f"median {calib['median']:.3f} vs floor {calib['floor']} "
              f"-> {state}")
        rc |= 2 if calib.get("high_state") else 0
sys.exit(rc)
