"""Checkpoint-mode escape hatch for the engine's hot-path materializations.

The operators truncate lineage and pin reused intermediates with
``localCheckpoint`` — the right bench-scale tool (no HDFS round-trip,
blocks live in executor storage).  Its known trade-off at cluster scale
(guide §5): truncated lineage + executor-local blocks means a lost
executor makes the checkpointed blocks unrecoverable, failing the job
instead of recomputing.  Fault-sensitive deployments can flip EVERY
such call site to reliable checkpointing with one session conf:

    spark.conf.set("ayeaye.checkpoint.mode", "reliable")
    spark.sparkContext.setCheckpointDir("hdfs://.../checkpoints")

``reliable`` routes through ``DataFrame.checkpoint`` (replicated
storage via the SparkContext checkpoint dir, recomputable-by-reread on
executor loss).  Default ``local`` keeps the exact round-12 behavior.
Results are identical in both modes — a checkpoint only materializes a
deterministic frame; the mode moves where the bytes live.

A Spark 4.1 behavior both modes inherit (measured in round 12, recorded
in OPTIMIZATION_r12.md): under AQE, even ``eager=False`` checkpoints
execute their plan's query stages at BUILD time, so constructing an
operator output that contains a checkpoint launches real jobs, and the
checkpoint boundary severs predicate/column pushdown for downstream
filters.  Operators whose docstrings mention a materialized fan point
carry this side effect by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

MODE_CONF = "ayeaye.checkpoint.mode"


def materialize(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Checkpoint ``df`` per the session's ``ayeaye.checkpoint.mode``:
    ``local`` (default) → ``localCheckpoint``; ``reliable`` →
    ``checkpoint`` (requires ``sparkContext.setCheckpointDir``)."""
    try:
        mode = df.sparkSession.conf.get(MODE_CONF, "local")
    except Exception:  # streaming/foreachBatch frames always have a session;
        mode = "local"  # be safe anyway — probing must never break the path
    if mode == "reliable":
        return df.checkpoint(eager=eager)
    if mode != "local":
        raise ValueError(f"{MODE_CONF} must be 'local' or 'reliable', got {mode!r}")
    return df.localCheckpoint(eager=eager)


def materialize_observed(df: DataFrame, **metrics) -> tuple[DataFrame, dict]:
    """Eager :func:`materialize` + aggregate metrics in ONE pass.

    Iterative operators need, per round, (a) the round's frame
    materialized with truncated lineage and (b) a tiny aggregate over
    that same frame (convergence fingerprint, changed-row count, peel
    count, seed row).  Done naively that is two jobs and two full reads;
    ``Dataset.observe`` puts a ``CollectMetrics`` node at the plan root,
    so the metrics are computed DURING the materialization job and the
    second read disappears.  ``metrics`` maps names to aggregate
    columns; returns ``(materialized_df, {name: value})``.  The
    observation stays unnamed: two same-named observations in one plan
    fail analysis.
    """
    from pyspark.sql import Observation

    obs = Observation()
    out = materialize(
        df.observe(obs, *[v.alias(k) for k, v in metrics.items()]), eager=True
    )
    return out, obs.get


def ckpt_eager(df: DataFrame) -> DataFrame:
    """``df.transform``-able eager :func:`materialize`."""
    return materialize(df, eager=True)


def ckpt_lazy(df: DataFrame) -> DataFrame:
    """``df.transform``-able lazy :func:`materialize` (NOTE: under Spark
    4.1 AQE "lazy" still executes the plan's stages at build time)."""
    return materialize(df, eager=False)
