#!/usr/bin/env python
"""Round-12 A/B harness: time a subset of catalog queries with a FRESH
SparkSession (fresh JVM via subprocess) per round, min across rounds.

Within-session A/B sequencing proved unreliable on this box (JIT/codegen
churn: the same query varies 3x by session position), so each round is
its own process, mirroring bench.py's fresh-session semantics.

Usage:
    python scripts/opt_ab.py q1 q2 ...            # 3 rounds
    OPT_AB_ROUNDS=5 python scripts/opt_ab.py ...
Prints per-query min and total; machine-readable JSON last line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, %(here)r)
from ayeaye_spark.catalog import QUERIES
from bench import _fresh_spark
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = _fresh_spark(sf_dir)
out = {}
for name in %(names)r:
    best = None
    for _ in range(2):
        t0 = time.monotonic()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        dt = time.monotonic() - t0
        best = dt if best is None else min(best, dt)
    out[name] = round(best, 3)
print("OPT_AB_JSON:" + json.dumps(out))
spark.stop()
"""


def main() -> None:
    names = sys.argv[1:]
    rounds = int(os.environ.get("OPT_AB_ROUNDS", "3"))
    per: dict[str, list[float]] = {n: [] for n in names}
    for r in range(rounds):
        code = CHILD % {"here": HERE, "names": names}
        res = subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True
        )
        line = [l for l in res.stdout.splitlines() if l.startswith("OPT_AB_JSON:")]
        if not line:
            print(f"round {r}: FAILED\n{res.stdout[-2000:]}\n{res.stderr[-2000:]}")
            sys.exit(1)
        got = json.loads(line[0][len("OPT_AB_JSON:"):])
        for n, v in got.items():
            per[n].append(v)
        print(f"round {r}: " + " ".join(f"{n}={v}" for n, v in got.items()),
              flush=True)
    mins = {n: min(v) for n, v in per.items() if v}
    for n, v in mins.items():
        print(f"{v:7.3f}  {n}  (rounds: {per[n]})")
    print(f"TOTAL(min) {sum(mins.values()):.3f}")
    print("OPT_AB_RESULT:" + json.dumps(mins))


if __name__ == "__main__":
    main()
