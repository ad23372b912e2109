#!/usr/bin/env python
"""Round-12 optimization profiler: per-query timing split + plan capture.

For each named query (default: the slowest-N from BENCH_LOCAL.json):

* ``build_s``   — time to construct the DataFrame (Python + analysis)
* ``run1_s``    — first noop-sink execution (JIT/codegen included)
* ``run2_s``    — steady-state noop-sink execution (the bench's number)
* optionally writes ``plans/r12/<query>_<tag>.txt`` with
  ``explain("formatted")`` output when ``--plans <tag>`` is given.

Usage:
    python scripts/opt_profile.py [--plans before|after] [--sf DIR] [q ...]
    python scripts/opt_profile.py --top 25          # slowest 25 from BENCH_LOCAL
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from ayeaye_spark.catalog import QUERIES  # noqa: E402
from bench import _fresh_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    tag = None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    top_n = 0
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--plans":
            tag = next(it)
        elif a == "--sf":
            sf_dir = next(it)
        elif a == "--top":
            top_n = int(next(it))
        else:
            names.append(a)
    if top_n:
        bench = json.load(open(os.path.join(HERE, "BENCH_LOCAL.json")))
        ranked = sorted(bench["queries"].items(), key=lambda kv: -kv[1])
        names = [n for n, _ in ranked[:top_n] if n in QUERIES]

    # bench.py's session + warm-up rites, so run2 is comparable to BENCH numbers
    spark = _fresh_spark(sf_dir)

    plans_dir = os.path.join(HERE, "plans", os.environ.get("AYEAYE_PLANS_ROUND", "r13"))
    if tag:
        os.makedirs(plans_dir, exist_ok=True)

    print(f"{'query':42s} {'build':>7s} {'run1':>7s} {'run2':>7s}")
    rows = []
    for name in names:
        spark.sparkContext.setJobDescription(f"opt_profile: {name}")
        t0 = time.monotonic()
        df = QUERIES[name](spark, sf_dir)
        build = time.monotonic() - t0
        runs = []
        for _ in range(2):
            t0 = time.monotonic()
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.monotonic() - t0)
        if tag:
            buf = io.StringIO()
            with redirect_stdout(buf):
                QUERIES[name](spark, sf_dir).explain("formatted")
            with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as fh:
                fh.write(buf.getvalue())
        print(f"{name:42s} {build:7.3f} {runs[0]:7.3f} {runs[1]:7.3f}", flush=True)
        rows.append((name, build, runs[0], runs[1]))
    total2 = sum(r[3] for r in rows)
    total_build = sum(r[1] for r in rows)
    print(f"{'TOTAL':42s} {total_build:7.3f} {'':7s} {total2:7.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
