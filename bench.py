#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (round-3 verdict item #2: the full per-query map is
~4,000 chars and overflowed the driver's tail capture, leaving
``"parsed": null``):

- FULL results — every per-query timing, per-run samples, streaming
  setup/steady split, errors — are written to ``BENCH_LOCAL.json``
  next to this file (committed per round).
- stdout gets ONE COMPACT JSON line (same schema, ``queries`` holds
  only the slowest 5) as the FINAL line, sized well under any tail
  capture.

Each query is forced to full materialization with the noop datasource
(no driver collect, no output IO) — measures the engine, not the sink.

Per-query time is the MIN of 2 consecutive runs (steady state): the
first run of a plan pays one-off JVM JIT/codegen + Python-worker spinup
that vary run-to-run by several seconds on this box and say nothing
about throughput; the min is reproducible.  ``"runs_per_query": 2`` in
the JSON records the methodology.  For the two Structured Streaming
drains the first run additionally pays state-store/checkpoint setup,
so their first/steady split is reported separately under
``"streaming"`` (round-3 verdict item #7) — the headline number stays
the steady-state min, consistent with every other query.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from ayeaye_spark.catalog import QUERIES  # noqa: E402
from ayeaye_spark.core.session import codegen_compiles, get_spark  # noqa: E402

# Every catalog query except the deliberately-quadratic exact variant
# (emb_near_dup_pairs exists as the small-scale oracle twin of the LSH
# path; ann_topk_lsh / dedup_minhash_lsh_pairs are the scale paths) and
# the banded-LSH recall EVALUATION (it runs the exact all-pairs set AND
# the approximate path purely to diagnose recall — not a production
# query shape; its recall floors are pinned in pytest instead).
EXCLUDE = {"emb_near_dup_pairs", "emb_banded_lsh_recall"}

STREAMING = {
    "events_stream_cdc_upsert",
    "events_stream_hourly_counts",
    "events_stream_sessions",
    "events_stream_exactly_once_dedup",
    "events_stream_trending",
}

# Round-13 (VERDICT r12 item 1): 5 queries gave the driver's
# round-over-round PERF check almost no common set (3 queries compared,
# 23 rotation entries mislabeled "dropped").  25 entries is ~30 chars
# each ≈ 750 chars — still far under the ~4,000-char tail limit that
# motivated the compact line, and the schema is unchanged (the driver
# may ADD entries to "queries", never remove).  The full map stays in
# BENCH_LOCAL.json as before.
SLOWEST_IN_STDOUT = 25


def _fresh_spark(sf_dir: str):
    """New session + the warmup rites, so the first timed query after
    (re)start measures the engine, not session startup: a plain agg, a
    wide-decimal agg (q1's codegen profile — without this the first
    timed query absorbed ~2s of one-off JIT), the parquet footer
    read, one Arrow round-trip to spin up the Python worker pool, and
    one mapInPandas round-trip (a distinct eval path — the first
    mapInPandas plan in a session otherwise pays ~4s of one-off
    worker/serde setup, which would land on whichever media/decode
    query runs first after a recycle)."""
    spark = get_spark("ayeaye_spark_bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(1_000_000).selectExpr(
        "sum(cast(id as decimal(27,2))) as a", "sum(cast(id as decimal(27,6))) as b"
    ).collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()
    spark.range(1_000).toPandas()
    spark.range(10).mapInPandas(lambda it: it, "id long").collect()
    return spark


# A single long-lived session degrades as the sweep grows: the round-7
# sweep (209 distinct plans x 2-3 runs each) had clean early-position
# steady states but 5-20x blowups late, with WITHIN-query degradation
# (lineitem_correlation_matrix sampled [8.9s, 113s, 180s] in-sweep vs
# 1.5s steady in a fresh session) — accumulated session state (codegen
# class churn, checkpoint blocks pinned until a driver GC notices them,
# broadcast-cleanup backlog), not query cost.  Recycling the session
# every RECYCLE_EVERY queries bounds that state; restart + warmup time
# is NOT part of any query's timing, exactly like the initial startup.
RECYCLE_EVERY = 40


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    # provenance: record whether the box was otherwise busy when the
    # sweep started/ended — the r9 driver sweep showed 2.4x phantom
    # regressions vs an idle re-measure, so a committed BENCH number is
    # only comparable to another ONE of the same provenance
    load_start = os.getloadavg()
    spark = _fresh_spark(sf_dir)

    # A failing query must cost its own timing only, never the whole
    # bench (round 2 lost every number to one loader bug): per-query
    # try/except, failures reported in "errors", JSON always emitted.
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    # Janino compilations per run: 0 on a repeat run means the codegen
    # cache held the query's classes (core/session.py)
    compiles: dict[str, list[int]] = {}
    errors: dict[str, str] = {}
    names = [n for n in QUERIES if n not in EXCLUDE]
    for qi, name in enumerate(names):
        if qi and qi % RECYCLE_EVERY == 0:
            spark.stop()
            gc.collect()  # drop py4j handles before the new gateway
            spark = _fresh_spark(sf_dir)
        runs: list[float] = []
        run_compiles: list[int] = []
        # streaming drains get a third run: their first run pays
        # state-store/checkpoint setup AND single runs are noisier, so
        # min-of-2 was regularly polluted by one bad sample
        n_runs = 3 if name in STREAMING else 2
        try:
            for _ in range(n_runs):
                c0 = codegen_compiles(spark)
                t0 = time.monotonic()
                df = QUERIES[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                runs.append(time.monotonic() - t0)
                run_compiles.append(codegen_compiles(spark) - c0)
            # adaptive de-noise: a min-of-2 still above 2.5s is either a
            # genuinely heavy query or two unlucky samples (GC / JIT
            # pressure mid-bench — orders_cube measured [4.8, 7.4] in
            # one sweep vs 0.7s steady in isolation); one more run
            # settles it cheaply, and for truly heavy queries it only
            # confirms the number
            if name not in STREAMING and min(runs) > 2.5:
                c0 = codegen_compiles(spark)
                t0 = time.monotonic()
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(time.monotonic() - t0)
                run_compiles.append(codegen_compiles(spark) - c0)
        except Exception as exc:  # noqa: BLE001 - survive any query failure
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        samples[name] = [round(r, 3) for r in runs]
        compiles[name] = run_compiles
        timings[name] = round(min(runs), 3)
        # release this query's DataFrame/py4j handles promptly so the
        # ContextCleaner can reap its checkpoint/broadcast blocks
        del df
        gc.collect()

    total = round(sum(timings.values()), 3)
    streaming = {
        n: {"setup_s": samples[n][0], "steady_s": round(min(samples[n][1:]), 3)}
        for n in STREAMING
        if n in samples and len(samples[n]) > 1
    }
    load_end = os.getloadavg()
    ncpu = os.cpu_count() or 1
    # load beyond what this bench itself generates (the sweep saturates
    # well under half the box between queries) marks contention; the
    # 1-min average at START is the cleanest signal of a busy box
    provenance = "idle" if load_start[0] < ncpu / 4 else "contended"
    full = {
        "metric": "catalog_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "runs": samples,
        "codegen_compiles": compiles,
        "streaming": streaming,
        "runs_per_query": 2,
        "runs_per_streaming_query": 3,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "sf": sf,
        "provenance": provenance,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in load_end],
    }
    if errors:
        full["errors"] = errors
    with open(os.path.join(HERE, "BENCH_LOCAL.json"), "w") as fh:
        json.dump(full, fh, indent=2, sort_keys=True)
        fh.write("\n")

    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:SLOWEST_IN_STDOUT]
    )
    compact = {
        "metric": "catalog_queries_total",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "runs_per_query": 2,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "sf": sf,
        "provenance": provenance,
        "full_results": "BENCH_LOCAL.json",
    }
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
