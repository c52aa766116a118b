#!/usr/bin/env python3
"""Self-test of the replication benchmark at a tiny input size.

    python3 perfbench/selftest.py

Run from the root of a checkout; takes a few minutes. It checks that:

1. every metric ``BENCHMARK.json`` names prints, with its unit, for each
   workload in both legs (``--trace 0`` end-to-end, ``--trace 1`` per layer);
2. the oracle catches a corrupted target: after two tiny steps, one row is
   dropped from a target table through the engine's table API, and the check
   must report exactly that row, and nothing in the other tables.

Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
#: 1% of TPC-H sf0.1 row counts, i.e. sf0.001
TINY = "0.01"


def fail(msg: str) -> None:
    print(f"selftest: FAIL: {msg}", file=sys.stderr)
    sys.exit(1)


def check_metric_names(spec: dict, workloads) -> None:
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in spec[key]}
        for w in workloads:
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", w, "--seed", "11", "--seconds", "1",
                   "--trace", str(trace), "--scale", TINY]
            p = subprocess.run(cmd, capture_output=True, text=True,
                               timeout=600)
            if p.returncode != 0:
                fail(f"{w} trace={trace} exited {p.returncode}:\n"
                     f"{p.stderr[-3000:]}")
            lines = p.stdout.strip().splitlines()
            out = json.loads(lines[-1])
            got = {n: m["unit"] for n, m in out["metrics"].items()}
            if got != want:
                fail(f"{w} trace={trace}: metrics {sorted(got.items())} "
                     f"!= {sorted(want.items())}")
            printed = {tuple(line.split()[::2]) for line in lines
                       if len(line.split()) == 3}
            missing = set(want.items()) - printed
            if missing:
                fail(f"{w} trace={trace}: no 'name value unit' line for "
                     f"{sorted(missing)}")
            print(f"selftest: {w} trace={trace}: {len(want)} metrics ok")


def check_oracle_catches_a_dropped_row(workloads) -> None:
    import duckdb

    import run

    work = run.workdir("selftest")
    spark = None
    try:
        spark, _ = run.session(work, trace=False)
        for w in workloads:
            wl = run.WORKLOADS[w](spark, os.path.join(work, w), 5,
                                  float(TINY))
            wl.setup()
            for i in (1, 2):
                wl.stage(i)
                wl.step(i)
            con = duckdb.connect()
            con.execute("SET TimeZone = 'UTC'")
            clean = wl.check(con)
            if any(clean.values()):
                fail(f"{w}: clean target mismatches {clean}")
            victim, table = next(iter(wl.targets().items()))
            df = table.read(spark)
            table.overwrite(df.orderBy(*df.columns).offset(1))
            caught = wl.check(con)
            con.close()
            want = {t: int(t == victim) for t in clean}
            if caught != want:
                fail(f"{w}: dropped one row of {victim}; check said "
                     f"{caught}, expected {want}")
            print(f"selftest: {w}: oracle caught the dropped {victim} row")
    finally:
        if spark is not None:
            run.stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    sys.path[:0] = [HERE, REPO]
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    import workloads

    names = sorted(workloads.WORKLOADS)
    check_metric_names(spec, names)
    check_oracle_catches_a_dropped_row(names)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
