"""The benchmark's three workloads.

Each workload has an untimed ``verify()`` pass, which also serves as the
cold first pass, and a ``run_pass()`` that runs one steady pass.  Both
return ``(attempted, failed)`` operation counts; ``run_pass()`` also
leaves the seconds of each part of the pass in ``part_s`` and the host's
steal share while the part ran in ``part_steal``.

* ``relational_mix`` — TPC-H catalog queries to the noop sink: pure
  Catalyst, codegen and shuffle, no checkpoints, no Python workers.  It
  measures the scheduling floor and is the bypass workload for any
  checkpoint, loop or Arrow-kernel change.
* ``corpus_mix`` — catalog queries heavy in build-time checkpoints,
  iterative loops and Arrow passes, plus one hash-bucket sample, to the
  noop sink.
* ``etl_dag`` — one ``ModelCollection.run`` of six example models (four
  concurrent in the first layer, two in the second), writing parquet and
  json: engine_url resolution, the ``go()`` lifecycle with its
  post-build read-backs, and the write path.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile
import time

# Ten of the 22 TPC-H catalog queries, chosen so that a run fits its time
# budget: wide aggregation (q1, q6), multi-way joins (q3, q5, q8, q9), an
# outer join (q13) and IN / EXISTS / scalar subqueries (q18, q21, q22).
RELATIONAL_MIX = (
    "q1_pricing_summary", "q3_top_unshipped_orders", "q5_region_nation_revenue",
    "q6_forecast_revenue", "q8_market_share", "q9_product_profit",
    "q13_customer_distribution", "q18_large_orders", "q21_waiting_supplier",
    "q22_idle_rich_customers",
)
# A checkpointed iterative graph loop over MinHash signatures (star
# connected components of the near-dup graph), an Arrow pass (Gopher
# quality flags) and a stratified hash-bucket sample.  IVF and IVF-PQ
# search run in etl_dag's index models.
CORPUS_MIX = ("dedup_components_star", "docs_gopher_vectorized", "docs_lang_rebalance")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of the machine's CPU time between two ``cpu_ticks()`` that
    the host took from its vCPUs (steal)."""
    return (end[0] - start[0]) / max(1, end[1] - start[1])


class CatalogMix:
    def __init__(self, names, spark, data_dir: str, seed: int):
        self.spark, self.data_dir = spark, data_dir
        # the seed fixes the query order of every pass
        self.names = list(names)
        random.Random(seed).shuffle(self.names)

    def verify(self, log) -> tuple[int, int]:
        """Each query against its DuckDB oracle on the same tables (column
        names, dtype classes and sorted values must match); a query with
        no oracle (iterative, approximate by design) is checked for rows."""
        from ayeaye_spark.catalog import ORACLES, QUERIES
        from tests.oracle_harness import compare, duck_connection

        failed = 0
        with duck_connection(self.data_dir) as con:
            for name in self.names:
                try:
                    if name in ORACLES:
                        ok, detail = compare(name, self.spark, con, self.data_dir)
                    else:
                        n = QUERIES[name](self.spark, self.data_dir).count()
                        ok, detail = n > 0, f"{n} rows (no oracle: rows only)"
                except Exception as exc:  # noqa: BLE001 - a failed query is a failed check
                    ok, detail = False, f"{type(exc).__name__}: {exc}"[:300]
                failed += not ok
                log(f"check {'PASS' if ok else 'FAIL'} {name}: {detail}")
        return len(self.names), failed

    def run_pass(self, tracer=None) -> tuple[int, int]:
        from ayeaye_spark.catalog import QUERIES

        failed = 0
        self.part_s, self.part_steal = {}, {}
        for name in self.names:
            try:
                c0, t0 = cpu_ticks(), time.monotonic()
                df = QUERIES[name](self.spark, self.data_dir)
                t1 = time.monotonic()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.monotonic()
                self.part_s[name] = t2 - t0
                self.part_steal[name] = steal_share(c0, cpu_ticks())
                if tracer is not None:
                    tracer.add("catalog.build_s", t1 - t0)
                    tracer.add("catalog.action_s", t2 - t1)
            except Exception as exc:  # noqa: BLE001 - count it, keep measuring
                failed += 1
                print(f"query {name} failed: {type(exc).__name__}: {exc}"[:400], file=sys.stderr)
        return len(self.names), failed

    def after_pass(self) -> tuple[int, int]:
        return 0, 0


class EtlDag:
    """One ``ModelCollection.run`` per pass into a fresh output dir."""

    OUTPUTS = (
        "cells.parquet", "centroids.parquet", "neighbors.parquet",
        "pq_codes.parquet", "pq_neighbors.parquet", "daily_metrics.parquet",
        "doc_diversity.parquet",
    )
    REPORTS = ("analytics_report.json", "corpus_audit.json")

    def __init__(self, spark, data_dir: str, work_dir: str):
        from examples.analytics_report import DailyAnalyticsReport
        from examples.ann_index import BuildAnnIndex, BuildPqIndex, QueryAnnIndex, QueryPqIndex
        from examples.corpus_audit import CorpusAudit

        self.models = [
            BuildAnnIndex, BuildPqIndex, DailyAnalyticsReport, CorpusAudit,
            QueryAnnIndex, QueryPqIndex,
        ]
        self.spark, self.data_dir = spark, data_dir
        self.out_root = os.path.join(work_dir, "etl")
        os.makedirs(self.out_root, exist_ok=True)
        self.inputs = {
            "emb_path": f"{data_dir}/embeddings.parquet",
            "docs_path": f"{data_dir}/documents.parquet",
            "events_path": f"{data_dir}/events.parquet",
        }
        self.input_bytes = sum(os.path.getsize(p) for p in self.inputs.values())
        self.expected: dict[str, int] | None = None
        self.out_dir: str | None = None
        self.bytes_written: list[int] = []

    def run_pass(self, tracer=None) -> tuple[int, int]:
        from ayeaye_spark import ModelCollection, connector_resolver

        self.out_dir = tempfile.mkdtemp(dir=self.out_root)
        self.part_s, self.part_steal = {}, {}
        try:
            with connector_resolver.context(
                index_path=self.out_dir, output_path=self.out_dir, **self.inputs
            ):
                c0, t0 = cpu_ticks(), time.monotonic()
                ModelCollection(self.models).run(self.spark)
                self.part_s["collection"] = time.monotonic() - t0
                self.part_steal["collection"] = steal_share(c0, cpu_ticks())
        except Exception as exc:  # noqa: BLE001 - count it, keep measuring
            print(f"etl_dag pass failed: {type(exc).__name__}: {exc}"[:400], file=sys.stderr)
            return len(self.models), len(self.models)
        return len(self.models), 0

    def _output_rows(self) -> dict[str, int]:
        import pyarrow.dataset as ds

        rows = {}
        for name in self.OUTPUTS:
            path = os.path.join(self.out_dir, name)
            rows[name] = ds.dataset(path, format="parquet").count_rows() if os.path.exists(path) else -1
        for name in self.REPORTS:
            with open(os.path.join(self.out_dir, name)) as fh:
                rows[name] = len(json.load(fh))
        return rows

    def after_pass(self) -> tuple[int, int]:
        """Untimed: bytes written, then every output's row count against
        the verification pass's; removes the pass's output dir."""
        from perfbench.trace import path_bytes

        try:
            self.bytes_written.append(path_bytes(self.out_dir))
            try:
                rows = self._output_rows()
            except (OSError, ValueError) as exc:
                print(f"etl_dag outputs unreadable: {exc}", file=sys.stderr)
                return 1, 1
            if self.expected is None:
                return 0, 0
            bad = [k for k in self.expected if rows.get(k) != self.expected[k]]
            for k in bad:
                print(f"etl_dag output {k}: {rows.get(k)} rows, want {self.expected[k]}",
                      file=sys.stderr)
            return len(self.expected), len(bad)
        finally:
            shutil.rmtree(self.out_dir, ignore_errors=True)

    def verify(self, log) -> tuple[int, int]:
        """Cold pass, then each output checked against counts derived
        from the inputs (or bounded by the models' k and query count)."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from examples.ann_index import BuildAnnIndex, QueryAnnIndex

        attempted, failed = self.run_pass()
        if failed:
            shutil.rmtree(self.out_dir, ignore_errors=True)
            log(f"check FAIL etl_dag go(): {failed}/{attempted} models failed")
            return attempted, failed
        try:
            rows = self._output_rows()
        except (OSError, ValueError) as exc:
            rows = {}
            log(f"check FAIL etl_dag outputs unreadable: {exc}")
        finally:
            shutil.rmtree(self.out_dir, ignore_errors=True)
        n_emb = pq.read_metadata(self.inputs["emb_path"]).num_rows
        n_docs = pq.read_metadata(self.inputs["docs_path"]).num_rows
        ts = pq.read_table(self.inputs["events_path"], columns=["ts"])["ts"]
        n_days = len(pc.unique(pc.cast(ts, "date32")))
        stride = BuildAnnIndex.centroid_stride
        max_neighbors = QueryAnnIndex.n_queries * QueryAnnIndex.k
        checks = {
            "cells.parquet": lambda n: n == n_emb,
            "centroids.parquet": lambda n: n == -(-n_emb // stride),
            "neighbors.parquet": lambda n: 0 < n <= max_neighbors,
            "pq_codes.parquet": lambda n: n > 0,
            "pq_neighbors.parquet": lambda n: 0 < n <= max_neighbors,
            "daily_metrics.parquet": lambda n: n == n_days,
            "doc_diversity.parquet": lambda n: n == n_docs,
            "analytics_report.json": lambda n: n > 0,
            "corpus_audit.json": lambda n: n > 0,
        }
        for name, check in checks.items():
            ok = name in rows and check(rows[name])
            failed += not ok
            log(f"check {'PASS' if ok else 'FAIL'} etl_dag {name} rows={rows.get(name)}")
        self.expected = rows if not failed else None
        return attempted + len(checks), failed
