"""The ``ayeaye.checkpoint.mode`` escape hatch (round-13, VERDICT r12
item 4): every engine hot-path ``localCheckpoint`` routes through
``core.checkpoint.materialize``, so a cluster deployment can flip all
of them to fault-tolerant ``DataFrame.checkpoint`` with one conf.
Results must be identical in both modes."""

import tempfile

import pytest

from ayeaye_spark.core.checkpoint import MODE_CONF, ckpt_lazy, materialize


@pytest.fixture()
def checkpoint_dir(spark):
    d = tempfile.mkdtemp(prefix="ayeaye_ckpt_")
    spark.sparkContext.setCheckpointDir(d)
    yield d


def _components(spark, algorithm):
    """One graph loop (the module the escape hatch matters most for):
    a two-component edge list through both branches of
    ``connected_components``.  ``"star"`` forces the large-star/small-star
    rounds (``collect_threshold=0``), the path that calls materialize()
    per round; ``"labelprop"`` (the case name of the removed
    label-propagation variant) takes the default size gate, whose one
    eager materialization feeds the driver-side union-find."""
    from ayeaye_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (12, 11), (5, 5)],
        "a long, b long",
    )
    if algorithm == "star":
        out = connected_components(edges, "a", "b", collect_threshold=0)
    else:
        out = connected_components(edges, "a", "b")
    return sorted(tuple(r) for r in out.collect())

EXPECTED = sorted(
    [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10), (5, 5)]
)


class TestCheckpointMode:
    def test_local_mode_is_default(self, spark):
        assert spark.conf.get(MODE_CONF, "local") == "local"
        df = spark.range(5)
        out = materialize(df, eager=True)
        # localCheckpoint => truncated lineage, same rows
        assert out.count() == 5
        # a checkpointed frame plans as an ExistingRDD scan; and local
        # mode needs NO checkpoint dir (none is set here — routing to
        # reliable would have raised)
        import io
        from contextlib import redirect_stdout

        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain()
        assert "ExistingRDD" in buf.getvalue()

    def test_reliable_mode_routes_to_reliable_checkpoint(
        self, spark, checkpoint_dir
    ):
        spark.conf.set(MODE_CONF, "reliable")
        try:
            out = materialize(spark.range(7), eager=True)
            assert out.count() == 7
            # reliable mode actually wrote to the checkpoint dir —
            # the distinguishing observable vs executor-local blocks
            import os
            assert any(os.scandir(checkpoint_dir))
        finally:
            spark.conf.unset(MODE_CONF)

    def test_unknown_mode_is_loud(self, spark):
        spark.conf.set(MODE_CONF, "bogus")
        try:
            with pytest.raises(ValueError, match="ayeaye.checkpoint.mode"):
                ckpt_lazy(spark.range(1))
        finally:
            spark.conf.unset(MODE_CONF)

    @pytest.mark.parametrize("algorithm", ["labelprop", "star"])
    def test_graph_loop_identical_in_both_modes(
        self, spark, checkpoint_dir, algorithm
    ):
        local = _components(spark, algorithm)
        spark.conf.set(MODE_CONF, "reliable")
        try:
            reliable = _components(spark, algorithm)
        finally:
            spark.conf.unset(MODE_CONF)
        assert local == reliable == EXPECTED
