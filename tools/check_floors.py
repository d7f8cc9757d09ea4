#!/usr/bin/env python
"""Machine enforcement of the floor/2x bench gate (VERDICT r8 #3).

Reads one bench.py JSON record (a file path, or '-' for stdin) and
judges every query against tools/floors.json, applying BASELINE.md's
pre-declared reading rule:

- ``queries_min[q] > 2 x floor``  ->  **FAIL** unconditionally.  A
  host stall can only ADD time, so a minimum above twice the floor
  cannot be blamed on contention — it is a real regression.
- steal-flat run (``steal_pct < 0.5`` and ``steal_pct_max_run < 0.5``)
  and ``queries[q] (median) > 2 x floor``  ->  **FAIL**.  On a quiet
  host there is no stall story; the median is the steady state.
- elevated-steal run whose median exceeds 2 x floor while the min
  passes  ->  **WARN (PENDING)**, exit 0: the pre-declared min-based
  reading applies, but per ADVICE r8 the round must record a
  follow-up steal-flat median before the episode is closed —
  intermittent code-caused slowdowns must not hide behind co-tenant
  episodes indefinitely.  The warning names the queries so the
  pending confirmation is in the round log, not just in prose.

Bench queries missing from floors.json FAIL (a new headline query must
land with a floor); floor entries missing from the bench are reported
but don't fail (the bench set is allowed to grow past old floors
files, not shrink silently).

Usage::

    python tools/check_floors.py BENCH.json
    python bench.py | tail -1 | python tools/check_floors.py -

Exit 0 = gate green (possibly with PENDING warnings), 1 = regression.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
FLOORS_PATH = os.path.join(HERE, "floors.json")
STEAL_FLAT = 0.5  # percent — BASELINE.md's 'quiet host' threshold


def load_floors(path: str = FLOORS_PATH) -> dict[str, dict]:
    with open(path) as f:
        return json.load(f)["floors"]


def load_bench_record(raw: str) -> dict:
    """Accept any of the three shapes a bench record travels in:
    bench.py's one JSON line, the driver's multi-line wrapper (record
    under 'parsed'), or a full transcript containing the line."""
    try:
        d = json.loads(raw)
        if isinstance(d, dict):
            if "queries" in d:
                return d
            if isinstance(d.get("parsed"), dict):
                return d["parsed"]
    except json.JSONDecodeError:
        pass
    lines = [ln for ln in raw.strip().splitlines()
             if ln.startswith("{") and '"queries"' in ln]
    if not lines:
        raise SystemExit("no bench record found in input")
    return json.loads(lines[-1])


def check(bench: dict, floors: dict[str, dict]) -> tuple[list[str], list[str]]:
    """-> (failures, pending_warnings); gate green iff failures == []."""
    medians = bench.get("queries") or {}
    minima = bench.get("queries_min") or medians
    steal = bench.get("steal_pct")
    steal_max = bench.get("steal_pct_max_run")
    # unknown steal (no /proc/stat) is treated as elevated: the
    # stall-immune min still gates hard, the median only warns
    flat = (steal is not None and steal < STEAL_FLAT
            and (steal_max is None or steal_max < STEAL_FLAT))
    failures, pending = [], []
    for q, med in medians.items():
        if q not in floors:
            failures.append(
                f"{q}: no floor in tools/floors.json — a new headline "
                "query must land with a floor (update_floors.py)")
            continue
        floor = floors[q]["floor"]
        mn = minima.get(q, med)
        if mn > 2 * floor:
            failures.append(
                f"{q}: min {mn:.3f}s > 2x floor {floor:.3f}s — "
                "stall-immune reading exceeded; real regression")
        elif med > 2 * floor:
            if flat:
                failures.append(
                    f"{q}: median {med:.3f}s > 2x floor {floor:.3f}s on a "
                    f"steal-flat run (steal {steal}%) — likely regression; "
                    "NOTE steal-flat is necessary but not sufficient for a "
                    "quiet host (BASELINE.md r9: memory-bandwidth "
                    "contention is steal-invisible) — re-run once and/or "
                    "run `python3 perfbench/run.py --workload lake "
                    "--trace 1` and compare its spark.tasks, spark.task_s "
                    "and spark.task_skew to distinguish constant-work "
                    "contention from a real plan change")
            else:
                pending.append(
                    f"{q}: median {med:.3f}s > 2x floor {floor:.3f}s under "
                    f"elevated steal ({steal}% / max-run {steal_max}%); min "
                    f"{mn:.3f}s passes — PENDING a steal-flat median "
                    "confirmation before round close (ADVICE r8)")
    for q in floors:
        if q not in medians:
            print(f"note: floor entry '{q}' not in this bench record",
                  file=sys.stderr)
    return failures, pending


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("bench", help="bench.py JSON record path, or - for stdin")
    ap.add_argument("--floors", default=FLOORS_PATH)
    args = ap.parse_args()
    raw = sys.stdin.read() if args.bench == "-" else open(args.bench).read()
    bench = load_bench_record(raw)
    failures, pending = check(bench, load_floors(args.floors))
    for w in pending:
        print(f"PENDING  {w}")
    for e in failures:
        print(f"FAIL     {e}")
    if not failures and not pending:
        print(f"floor gate green: every query within 2x floor "
              f"(steal {bench.get('steal_pct')}%)")
    elif not failures:
        print("floor gate green on the min-based reading; steal-flat "
              "follow-up required for the PENDING queries above")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
