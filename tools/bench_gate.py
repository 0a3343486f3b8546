#!/usr/bin/env python3
"""Compare a graft.Bench JSON line against the FROZEN per-query budgets in
tools/bench_budgets.json (see BASELINE.md "frozen bench budgets").

Usage: bench_gate.py <bench.json|-> [budgets.json]

The bench file may be the raw one-line {"metric":...} JSON printed by
graft.Bench, Bench's stdout, or a driver BENCH_r*.json wrapper. A wrapper's
"parsed" object is used when it carries the per-query "queries" map (its
bounded "tail" usually has lost the head of Bench's long line); otherwise
the tail is scanned for a complete line.

Exit 0 = every query within budget; exit 1 = violations (listed), queries
missing from the budget table (a new query must get a frozen budget in the
same commit that adds it) or queries in the line's "errors" map (a query
whose timed run threw has no time, and must not pass as a fast one).

Effective budget (round 13): max(frozen budget_sec, basis_sec + 2.5 s).
The frozen multiplicative budget (3x median-of-3 basis, 0.6 s floor) models
plan regressions, but the round-12 driver artifact showed shared-box
contention is ADDITIVE seconds, not multiplicative: q118 (basis 0.337 s,
budget 1.01 s) read 2.13 s median [1.43, 2.43] in a contention window that
also blew the spreads of its alphabetical neighbors (q117 [1.33, 4.72],
q119 [0.70, 4.69]), while the same untouched plan pinned 0.26-0.33 s in
every quiet run. A sub-second-basis query cannot absorb ~2 s of box noise
inside a 3x budget, and a spread-MIN consult would not have saved it
either (its min 1.43 s was already over). The +2.5 s allowance covers the
observed noise amplitude uniformly; queries with basis >= 1.25 s are
unaffected (3x dominates), and a true 10x plan regression of a >=0.28 s
query still fails. Rationale + the four q118 numbers: BASELINE.md
"Round 13".

Round 14 makes the allowance CONDITIONAL on a contention marker: a flat
+2.5 s on a QUIET box lets a genuine ~8x regression of a 0.3 s query pass
the builder's own alarm. The marker is the run's MEDIAN sec/basis ratio
across every budgeted query (a real regression moves a handful of
queries; box contention moves the whole distribution — the round-13
identical-tree runs tracked untouched-query median ratios 1.11-1.28x as
the hypervisor reclaimed the page cache). Median ratio <= 1.1 → the run
is quiet, the UNWIDENED frozen budgets apply; above it → the additive
allowance kicks in exactly as in round 13. The marker is printed so a
reader can audit which regime gated the run.
"""
import json
import os
import re
import sys


def load_bench(path):
    text = sys.stdin.read() if path == "-" else open(path).read()
    try:
        d = json.loads(text)
    except json.JSONDecodeError:
        d = None
    if isinstance(d, dict) and "queries" in d:
        return d
    if isinstance(d, dict) and "tail" in d:
        parsed = d.get("parsed")
        if isinstance(parsed, dict) and "queries" in parsed:
            return parsed
        text = d["tail"]
    # the bench line is one-per-line JSON possibly embedded in log noise:
    # take the LAST line carrying the per-query map (graft.Bench's stdout
    # ends with a compact total line that has none), sliced from its first
    # '{"metric"' to that line's final '}' (a lazy cross-line regex
    # truncates mid-object)
    line = None
    for cand in text.splitlines():
        if '{"metric"' in cand and '"queries":' in cand:
            line = cand
    if line is None:
        why = (" (the wrapper's \"parsed\" has no \"queries\" map and its "
               "tail holds no complete bench line)") if isinstance(d, dict) and "tail" in d else ""
        raise SystemExit(f"no bench JSON line found in {path}{why}")
    return json.loads(line[line.index('{"metric"'):line.rindex("}") + 1])


def main():
    bench_path = sys.argv[1] if len(sys.argv) > 1 else "-"
    budget_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_budgets.json")
    bench = load_bench(bench_path)
    queries = bench["queries"]
    errors = bench.get("errors", {})
    budgets = json.load(open(budget_path))["budgets"]

    # contention marker (see module docstring): the run's median sec/basis
    # ratio across budgeted queries decides whether the additive box-noise
    # allowance applies or the unwidened frozen budgets gate the run
    ratios = sorted(sec / budgets[q]["basis_sec"]
                    for q, sec in queries.items()
                    if q in budgets and budgets[q]["basis_sec"] > 0)
    med_ratio = ratios[len(ratios) // 2] if ratios else 0.0
    contended = med_ratio > 1.1
    print(f"contention marker: median sec/basis = {med_ratio:.3f} -> "
          f"{'CONTENDED (+2.5s allowance active)' if contended else 'quiet (unwidened budgets)'}")

    bad = []
    for q, msg in sorted(errors.items()):
        print(f"ERR  {q:28} {msg}")
        bad.append(f"ERR {q}: its timed run threw")
    for q, sec in sorted(queries.items()):
        if q not in budgets:
            bad.append(f"UNBUDGETED {q}: {sec:.2f}s — freeze a budget for it")
            continue
        # additive box-noise allowance on top of the frozen multiplicative
        # budget, only under the contention marker (see module docstring)
        b = max(budgets[q]["budget_sec"],
                budgets[q]["basis_sec"] + 2.5) if contended \
            else budgets[q]["budget_sec"]
        status = "OK" if sec <= b else "OVER"
        print(f"{status:4} {q:28} {sec:6.2f}s / budget {b:.2f}s")
        if sec > b:
            bad.append(f"OVER {q}: {sec:.2f}s > {b:.2f}s "
                       f"(basis {budgets[q]['basis_sec']}s, {budgets[q]['basis']})")
    # an incomplete bench run (query crashed mid-bench, stale file from an
    # older tree) must FAIL — missing coverage is how regressions hide
    for q in sorted(set(budgets) - set(queries) - set(errors)):
        print(f"MISS {q:28} budgeted but not in this bench run")
        bad.append(f"MISS {q}: budgeted but absent from the bench run")

    if bad:
        print("\n" + "\n".join(bad))
        sys.exit(1)
    print(f"\n{len(queries)} queries within budget")


if __name__ == "__main__":
    main()
