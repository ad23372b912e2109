"""Z-order layout: bit-exact zvalue math and measured multi-dimensional
file-skipping vs a linear sort of the same data."""

import pytest
from pyspark.sql import functions as F

from ayeaye_spark.operators import layout, maintenance


class TestZvalue:
    def test_known_interleave(self, spark):
        # x=0b101, y=0b011, bits=3 -> bit i of dim d at position i*2+d:
        # x bits (d=0) at 0,2,4 = 1,0,1 ; y bits (d=1) at 1,3,5 = 1,1,0
        # z = 0b011011 = 27
        row = spark.range(1).select(
            layout.zvalue([F.lit(5), F.lit(3)], bits=3).alias("z")
        ).first()
        assert row["z"] == 27

    def test_sql_twin_matches_column(self, spark):
        df = spark.range(200).select(
            (F.col("id") * 37 % 1024).alias("x"),
            (F.col("id") * 91 % 1024).alias("y"),
        )
        col_z = df.select(layout.zvalue(["x", "y"]).alias("z"), "x", "y")
        sql_z = df.selectExpr(
            f"{layout.zvalue_sql(['x', 'y'])} AS z", "x", "y"
        )
        assert sorted(col_z.collect()) == sorted(sql_z.collect())

    def test_out_of_range_masked(self, spark):
        # 2**bits + 5 masks to 5; negative masks to its low bits (total fn)
        a = spark.range(1).select(
            layout.zvalue([F.lit(1024 + 5), F.lit(0)], bits=10).alias("z")
        ).first()["z"]
        b = spark.range(1).select(
            layout.zvalue([F.lit(5), F.lit(0)], bits=10).alias("z")
        ).first()["z"]
        assert a == b

    def test_validation(self):
        with pytest.raises(ValueError):
            layout.zvalue(["x"], bits=10)
        with pytest.raises(ValueError):
            layout.zvalue(["x", "y"], bits=40)  # 80 > 63
        with pytest.raises(ValueError):
            layout.zvalue_sql(["x", "y", "z"], bits=22)  # 66 > 63


class TestZorderWrite:
    def test_roundtrip_and_multidim_skipping(self, spark, tmp_path):
        orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        n = orders.count()

        lin = f"{tmp_path}/lin"
        zo = f"{tmp_path}/zo"
        # linear layout: clustered on date only (the classic sort-by rewrite)
        (orders.repartitionByRange(16, "o_orderdate")
               .sortWithinPartitions("o_orderdate")
               .write.parquet(lin))
        layout.zorder_frame(
            orders, ["o_custkey", "o_orderdate"], target_files=16
        ).write.parquet(zo)
        assert spark.read.parquet(zo).count() == n
        assert sorted(spark.read.parquet(zo).columns) == sorted(orders.columns)

        idx_lin = maintenance.build_file_index(
            spark, lin, ["o_custkey", "o_orderkey"]
        ).localCheckpoint()
        idx_zo = maintenance.build_file_index(
            spark, zo, ["o_custkey", "o_orderkey"]
        ).localCheckpoint()
        n_files_lin = idx_lin.count()
        n_files_zo = idx_zo.count()

        # box predicate on the NON-sort dimension: the date-sorted layout
        # has full-range custkey envelopes in every file, the z-ordered
        # one is tight on custkey too
        lo, hi = 100, 200
        hit_lin = len(layout.files_for_box(idx_lin, {"o_custkey": (lo, hi)}))
        hit_zo = len(layout.files_for_box(idx_zo, {"o_custkey": (lo, hi)}))
        assert hit_lin == n_files_lin  # linear layout cannot skip on custkey
        assert hit_zo < n_files_zo  # z-order skips real files

        # skipped files lose no rows: pruned union == full predicate scan
        files = layout.files_for_box(idx_zo, {"o_custkey": (lo, hi)})
        got = (
            spark.read.parquet(*files)
            .where(F.col("o_custkey").between(lo, hi))
            .count()
        )
        want = orders.where(F.col("o_custkey").between(lo, hi)).count()
        assert got == want

    def test_connector_zorder_by(self, spark, tmp_path):
        from ayeaye_spark.sources.base import AccessMode, ConnectorError
        from ayeaye_spark.sources.registry import connector_for

        orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        c = connector_for(
            f"parquet://{tmp_path}/zo", access=AccessMode.WRITE,
            zorder_by=(8, ["o_custkey", "o_orderkey"]),
        )
        c.write(orders)
        assert spark.read.parquet(f"{tmp_path}/zo").count() == orders.count()
        idx = maintenance.build_file_index(
            spark, f"{tmp_path}/zo", ["o_custkey", "o_orderkey"]
        )
        hit = layout.files_for_box(idx, {"o_custkey": (100, 200)})
        assert len(hit) < idx.count()  # layout skips on the 1st dim too

        with pytest.raises(ConnectorError):
            connector_for(
                f"parquet://{tmp_path}/bad", access=AccessMode.WRITE,
                zorder_by=["o_custkey", "o_orderkey"], sort_by=["o_orderkey"],
            ).write(orders)

    def test_date_and_degenerate_dims(self, spark, tmp_path):
        # constant column -> degenerate bounds path; dates normalize
        df = spark.range(500).select(
            F.lit(7).alias("k"),
            F.date_add(F.lit("2024-01-01"), (F.col("id") % 365).cast("int")).alias("d"),
        )
        layout.zorder_frame(df, ["k", "d"], target_files=4).write.parquet(
            f"{tmp_path}/t"
        )
        assert spark.read.parquet(f"{tmp_path}/t").count() == 500
