#!/usr/bin/env python3
"""Benchmark of the ayeaye_spark engine, run from the repository root:

    python3 perfbench/run.py --workload corpus_mix --seed 1 --seconds 20 --trace 0

``BENCHMARK.json`` lists ``corpus_mix`` and ``etl_dag``; ``relational_mix``
runs the same way by hand.  One run costs 30-60 s on 4 vCPUs (set-up,
verification, warm-up and steady passes), up to 100 s while the host
steals a fifth of the CPU, and three listed workloads would not fit the
time a full benchmark check is given.

One process on ``local[nproc]``.  The seed generates the input tables
(``perfbench/datagen.py``, scale factor ``SF``) into a scratch dir inside
the checkout and fixes the catalog mixes' query order.  The run then

1. sets up once — fresh JVM, ``get_spark``, warm-up rites — and reports
   that as ``setup_s`` (one set-up costs 7-20 s on 4 vCPUs, so
   repeating it would not fit the run budget);
2. runs the workload's untimed verification pass, which is also its
   cold pass: catalog results against the DuckDB oracles
   (``tests/oracle_harness.py``), ``etl_dag`` outputs against counts
   derived from the inputs;
3. runs the workload's ``WARMUP_PASSES`` untimed warm-up passes;
4. runs about ``--seconds`` of steady passes — ``--seconds`` over the
   workload's ``NOMINAL_PASS_S``, at least ``MIN_PASSES`` — and reports
   ``pass_s`` (see ``steady_pass_s``) and the peak RSS of the process
   tree (Python driver, JVM, Python workers).

With ``--trace 1`` steady passes are untraced and traced in turn
(``perfbench/trace.py``); the per-layer metrics are medians over the
traced passes and ``trace_overhead`` is traced over untraced ``pass_s``.
Human-readable lines go first; the last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("relational_mix", "corpus_mix", "etl_dag")
SF = 0.01
# the first steady pass still runs slower than the rest (JIT warm-up), so
# a median needs at least three
MIN_PASSES = 3
# seconds of one steady pass on 4 cores; --seconds over this sets the
# number of passes
NOMINAL_PASS_S = {"relational_mix": 5.0, "corpus_mix": 3.3, "etl_dag": 8.0}
# untimed passes between the verification pass and the steady passes.
# corpus_mix's checkpointed loop keeps getting faster for about ten passes
# after the cold one (on a busy 4-vCPU host 3.5-4.5 s falling to about
# 2 s, with the JIT still compiling 1-3 s of CPU per pass), and how fast
# it falls varies from run to run, so the steady passes start past the
# steepest part.  An etl_dag pass costs 4-8 s and its figures hold
# without one.
WARMUP_PASSES = {"relational_mix": 1, "corpus_mix": 2, "etl_dag": 0}
# a part's run with less host steal than this counts as quiet (see
# steady_pass_s); a quiet 4-vCPU VM shows 0-2%, a busy host 5-30%
QUIET_STEAL = 0.02
# descendants younger than this are left out of the RSS sum (see tree_rss)
MIN_AGE_S = 1.0
# the box is shared; get_spark's own default heap is 48g
DRIVER_MEM = "1g"

# end-to-end metric -> unit; an untraced run prints every one
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}
# per-layer metric -> unit; a traced run prints every one
LAYER_UNITS = {
    "core.session.get_spark_s": "s",
    "core.session.warmup_s": "s",
    "catalog.build_s": "s",
    "catalog.action_s": "s",
    "core.checkpoint.calls": "count",
    "core.checkpoint.eager_calls": "count",
    "core.checkpoint.s": "s",
    **{
        f"operators.{m}.{k}": u
        for m in ("graph", "similarity", "dedup", "text", "sampling", "relational")
        for k, u in (("calls", "count"), ("s", "s"))
    },
    "core.model.pre_build_check_s": "s",
    "core.model.build_s": "s",
    "core.model.post_build_check_s": "s",
    "sources.read_calls": "count",
    "sources.read_s": "s",
    "sources.write_calls": "count",
    "sources.write_s": "s",
    "sources.bytes_written": "bytes",
    "sources.bytes_written_per_input_byte": "ratio",
    "core.collection.run_order_s": "s",
    "core.collection.layers": "count",
    "core.collection.straggler_s": "s",
    "spark.jobs": "count",
    "spark.unattributed_jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.busy_ratio": "ratio",
    "spark.jvm_gc_ms": "ms",
    "spark.arrow_tasks": "count",
    "trace_overhead": "ratio",
}
# counts expected to repeat exactly across steady passes
REPEATING = ("spark.jobs", "spark.tasks", "core.checkpoint.calls", "spark.arrow_tasks")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _log(msg: str) -> None:
    # the real stdout: passes run with stdout redirected to stderr, so the
    # models' own log lines cannot end up after the result line
    print(msg, file=sys.__stdout__, flush=True)


def _provenance() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 2**20, 1),
        "load1": os.getloadavg()[0],
    }


def tree_rss() -> int:
    """RSS bytes summed over this process and all its descendants (JVM,
    Python workers) that are at least ``MIN_AGE_S`` old.

    The JVM runs short shell commands (Hadoop's local file system on
    writes); until such a child execs it shares the JVM's address space,
    and /proc reports the whole JVM's RSS for it.  A sample that caught
    one read about 1 GB high in roughly one etl_dag run in five."""
    clk = os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    rss: dict[int, int] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # fields from ``state`` on: ppid is 1, starttime (ticks after
            # boot) is 19, rss (pages) is 21
            if uptime - int(fields[19]) / clk >= MIN_AGE_S or int(entry) == os.getpid():
                rss[int(entry)] = int(fields[21])
            children.setdefault(int(fields[1]), []).append(int(entry))
    pages, frontier = 0, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        frontier.extend(children.get(pid, ()))
        pages += rss.get(pid, 0)
    return pages * os.sysconf("SC_PAGE_SIZE")


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval, self.peak_bytes = interval, 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss())
            self._stop_event.wait(self.interval)

    def stop(self) -> None:
        self._stop_event.set()
        self.join()
        self.peak_bytes = max(self.peak_bytes, tree_rss())


def _setup_env(work: str) -> None:
    """Environment for the JVM and Python workers, before the first launch."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the package (and perfbench.trace) from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, ROOT)


def _start_session(data_dir: str):
    """Fresh JVM + session + the warm-up rites: a plain agg, a parquet
    footer read, an Arrow round trip and a mapInPandas round trip (Python
    worker start)."""
    from ayeaye_spark.core.session import get_spark

    t0 = time.monotonic()
    spark = get_spark("perfbench")
    t1 = time.monotonic()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{data_dir}/documents.parquet").limit(1).collect()
    spark.range(1_000).toPandas()
    spark.range(10).mapInPandas(lambda it: it, "id long").collect()
    return spark, t1 - t0, time.monotonic() - t1


def _stop_session(spark) -> None:
    """Stop the session, then its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    SparkContext._gateway = None
    SparkContext._jvm = None
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF
        gateway.proc.wait(timeout=60)


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(args, work: str) -> dict:
    from perfbench import datagen

    data_dir = os.path.join(work, "data")
    rows = datagen.generate(data_dir, args.seed, SF)
    _log(f"inputs: sf={SF} seed={args.seed} rows={rows}")
    spark, get_spark_s, warmup_s = _start_session(data_dir)
    try:
        with contextlib.redirect_stdout(sys.stderr):
            return measure(args, spark, data_dir, work, get_spark_s, warmup_s)
    finally:
        _stop_session(spark)


def measure(args, spark, data_dir, work, get_spark_s, warmup_s) -> dict:
    from perfbench import workloads as wl

    cores = spark.sparkContext.defaultParallelism
    if args.workload == "etl_dag":
        workload = wl.EtlDag(spark, data_dir, work)
    else:
        names = wl.RELATIONAL_MIX if args.workload == "relational_mix" else wl.CORPUS_MIX
        workload = wl.CatalogMix(names, spark, data_dir, args.seed)
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)

    t0 = time.monotonic()
    attempted, failed = workload.verify(_log)
    checks = (attempted, failed)
    _log(f"verification pass: {time.monotonic() - t0:.1f} s (untimed)")

    warm = []
    for _ in range(WARMUP_PASSES[args.workload]):
        t0 = time.monotonic()
        a, f = workload.run_pass()
        warm.append(round(time.monotonic() - t0, 3))
        a2, f2 = workload.after_pass()
        attempted += a + a2
        failed += f + f2
        gc.collect()
    if warm:
        _log(f"warm-up passes: {warm} s (untimed)")

    ticks0 = wl.cpu_ticks()
    rss = RssSampler()
    rss.start()
    plain_s, plain_parts, plain_steal, traced_parts, traced_steal = [], [], [], [], []
    layer_samples = []
    # The pass count is fixed by --seconds, not by a clock: passes still
    # speed up as the JVM warms, so on a loaded host a clock would leave
    # fewer and earlier (slower) passes for the median.  A traced run
    # orders its passes untraced, traced, traced, untraced, so the warm-up
    # trend falls on both sides of trace_overhead alike.
    passes = max(MIN_PASSES, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    for i in range(max(4, passes) if tracer else passes):
        traced = tracer is not None and i % 4 in (1, 2)
        if traced:
            tracer.start_pass(f"perfbench-pass-{i}")
        try:
            if traced:
                tracer.install()
            t0 = time.monotonic()
            a, f = workload.run_pass(tracer if traced else None)
            pass_s = time.monotonic() - t0
        finally:
            if traced:
                tracer.restore()
        if traced:
            traced_parts.append(workload.part_s)
            traced_steal.append(workload.part_steal)
            layer_samples.append(tracer.finish_pass(pass_s, cores))
        else:
            plain_s.append(pass_s)
            plain_parts.append(workload.part_s)
            plain_steal.append(workload.part_steal)
        a2, f2 = workload.after_pass()
        attempted += a + a2
        failed += f + f2
        gc.collect()  # drop py4j handles so the JVM can reap checkpoint blocks
    rss.stop()
    steal = wl.steal_share(ticks0, wl.cpu_ticks())

    _log(f"checks: {checks[0] - checks[1]}/{checks[0]} passed; operations "
         f"attempted={attempted} failed={failed} failed_ratio={failed / attempted:.4f}")
    _log(f"setup_s={get_spark_s + warmup_s:.4f} s n=1 (get_spark {get_spark_s:.2f} s, "
         f"warm-up rites {warmup_s:.2f} s)")
    pass_fig = steady_pass_s(plain_parts, plain_steal)
    _log(f"pass_s={pass_fig:.4f} s (sf={SF}; sum over parts of the median of the part's "
         f"quieter half of n={len(plain_s)} passes); whole passes: "
         f"median={_median(plain_s):.4f} s max={max(plain_s):.4f} s "
         f"samples={[round(p, 4) for p in plain_s]}; no higher percentile: fewer than 10 "
         "samples beyond it")
    for part in sorted(plain_parts[0]):
        runs = [(p[part], s[part]) for p, s in zip(plain_parts, plain_steal) if part in p]
        _log(f"  part {part}: median={_median([t for t, _ in runs]):.4f} s "
             f"samples={[round(t, 3) for t, _ in runs]} "
             f"steal%={[round(100 * s, 1) for _, s in runs]}")
    _log(f"peak_rss_mb={rss.peak_bytes / 2**20:.1f} MB n=1")
    _log(f"host steal during steady passes: {100 * steal:.1f}% of CPU time")
    if not args.trace:
        values = {
            "setup_s": get_spark_s + warmup_s,
            "pass_s": pass_fig,
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
        metrics = {name: _metric(values[name], unit) for name, unit in E2E_UNITS.items()}
    else:
        overhead = steady_pass_s(traced_parts, traced_steal) / pass_fig
        metrics = layer_metrics(layer_samples, get_spark_s, warmup_s, overhead, workload)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def steady_pass_s(parts: list[dict[str, float]], steal: list[dict[str, float]]) -> float:
    """One steady pass: the sum over its parts (each catalog query; the
    whole ``ModelCollection.run`` for ``etl_dag``) of the median time of
    the part's quieter half of runs, those during which the host stole
    the least CPU from this machine's vCPUs.

    On a shared host the steal comes in bursts of tens of seconds to
    minutes, and a part made of many small Spark jobs waits on thread
    wake-ups far more than the stolen share: 10% steal slows
    ``corpus_mix`` by 40% or more.  When a burst covers only some of a
    run's passes, the quieter half keeps them out of the figure; a burst
    over the whole run still shows in it.  A median per part keeps one
    stall in one query from moving the figure as much as it moves a
    median of whole passes."""
    total = 0.0
    for name in {name for p in parts for name in p}:
        # steal below QUIET_STEAL counts as none, so on a quiet host every
        # run stays in and the median still spans the warm-up trend
        runs = [(s[name] if s[name] >= QUIET_STEAL else 0.0, p[name])
                for p, s in zip(parts, steal) if name in p]
        # runs that tie with the half's noisiest stay in
        cut = sorted(s for s, _ in runs)[(len(runs) - 1) // 2]
        total += _median([t for s, t in runs if s <= cut])
    return total


def layer_metrics(samples, get_spark_s, warmup_s, trace_overhead, workload) -> dict:
    """Median of each per-layer metric over the traced passes; counts that
    do not repeat exactly are reported with their spread."""
    written = getattr(workload, "bytes_written", [])
    input_bytes = getattr(workload, "input_bytes", 0)
    fixed = {
        "core.session.get_spark_s": get_spark_s,
        "core.session.warmup_s": warmup_s,
        "sources.bytes_written_per_input_byte":
            _median(written) / input_bytes if input_bytes else 0.0,
        "trace_overhead": trace_overhead,
    }
    out = {}
    for name, unit in LAYER_UNITS.items():
        if name in fixed:
            out[name] = _metric(fixed[name], unit)
            continue
        values = [s.get(name, 0.0) for s in samples]
        out[name] = _metric(_median(values), unit)
        if unit in ("count", "bytes"):
            if len(set(values)) > 1:
                _log(f"{name} varies across traced passes: min={min(values)} "
                     f"max={max(values)} n={len(values)}")
            elif name in REPEATING:
                _log(f"{name} repeats exactly across {len(values)} traced passes: {values[0]}")
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "ayeaye_spark", "__init__.py")):
        print("perfbench: no ayeaye_spark package beside perfbench/", file=sys.stderr)
        return 2
    start = _provenance()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    try:
        _setup_env(work)
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    _log(f"provenance: start={start} end={_provenance()}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
