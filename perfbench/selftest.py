#!/usr/bin/env python3
"""Checker self-test: run each workload at a tiny size and show that its
checker passes the real outputs and rejects a planted fault.

    python3 perfbench/selftest.py      # from the root of a checkout

- lake: one value of one row in a query result is changed, and one
  MinHash pair reports a distance that is off;
- etl_daily: a warehouse key is duplicated after a replay.

Exits 0 when every checker behaves, 1 otherwise.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import etl  # noqa: E402
import lakeq  # noqa: E402
import run as bench  # noqa: E402

TINY_SCALE = 0.001
TINY_FLEET = 8


def expect_reject(what: str, fn) -> bool:
    try:
        fn()
    except AssertionError as e:
        print(f"ok    {what}: rejected ({e})")
        return True
    print(f"FAIL  {what}: the planted fault was accepted")
    return False


def expect_pass(what: str, fn) -> bool:
    try:
        fn()
    except AssertionError as e:
        print(f"FAIL  {what}: {e}")
        return False
    print(f"ok    {what}: passes")
    return True


def wrong_row(table: pa.Table) -> pa.Table:
    """Copy of ``table`` with the first numeric cell of row 0 changed."""
    for i, field in enumerate(table.schema):
        if pa.types.is_integer(field.type) or pa.types.is_floating(field.type):
            col = table.column(i).combine_chunks()
            vals = col.to_pylist()
            vals[0] = (vals[0] or 0) + 1
            return table.set_column(i, field, pa.array(vals, field.type))
    raise ValueError("no numeric column to plant a fault in")


def off_distance(table: pa.Table) -> pa.Table:
    i = table.schema.get_field_index("jaccard_distance")
    d = table.column(i).to_pylist()
    d[0] = round(d[0] + 0.01, 4)
    return table.set_column(i, table.schema.field(i),
                            pa.array(d, table.schema.field(i).type))


def main() -> int:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, bench.PKG)):
        print(f"error: run from a checkout holding {bench.PKG}/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    ok = True
    threads = bench.probes.nproc()
    runs = []
    for name in bench.WORKLOADS:
        args = argparse.Namespace(workload=name, seed=7, scale=TINY_SCALE,
                                  fleet=TINY_FLEET)
        r = bench.Run(args, os.path.join(work, name), traced=False)
        runs.append(r)
        _, _, cold = r.setup()
        wl = r.workload
        if name == "etl_daily":
            # each day's CSV is overwritten by the next: check in turn
            out = cold
            for k in range(etl.REPLAY_EVERY):
                if k:
                    out = wl.run_op()
                ok &= expect_pass(f"etl_daily day {out['day']}"
                                  f"{' (replay)' if out['replay'] else ''}",
                                  lambda o=out: wl.check_op(o))
            ok &= expect_pass("etl_daily warehouse after a replay",
                              wl.check_end)
            first = pq.read_table(wl.wh).slice(0, 1)
            pq.write_table(first, os.path.join(wl.wh, "part-planted.parquet"))
            ok &= expect_reject("etl_daily duplicated warehouse key",
                                wl.check_end)
            continue
        second = wl.run_op()
        ok &= expect_pass(f"{name} cold pass", lambda: wl.check(cold, threads))
        ok &= expect_pass(f"{name} second pass",
                          lambda: wl.check(second, threads))
        q = "q1_pricing_summary"
        bad = dict(second, **{q: wrong_row(second[q])})
        ok &= expect_reject(f"lake wrong row in {q}",
                            lambda: wl.check(bad, threads))
        bad = dict(second,
                   **{lakeq.MINHASH: off_distance(second[lakeq.MINHASH])})
        ok &= expect_reject("lake MinHash distance off",
                            lambda: wl.check(bad, threads))
    runs[-1].stop()
    shutil.rmtree(work, ignore_errors=True)
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
