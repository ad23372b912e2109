"""Daily operations analytics report as one Model.

The analytics counterpart of ``training_corpus.py``: one pass over the
events table produces the product-analytics bundle — daily active
users, the view→click→purchase funnel, top clickstream paths, heavy
users, and a k-anonymity release audit — written as a JSON report plus
a per-day parquet metrics table.  Every number is exact (integer
counts, microsecond gaps); the report is reproducible bit-for-bit on
any cluster size.

No reference counterpart (SURVEY §2.5 new capability); the
Model/Connect surface is the reference's (``model.py:55-92``).
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ayeaye_spark import AccessMode, Connect, Model
from ayeaye_spark.operators import relational


class DailyAnalyticsReport(Model):
    events = Connect(engine_url="parquet://{events_path}")
    daily_metrics = Connect(
        engine_url="parquet://{output_path}/daily_metrics.parquet",
        access=AccessMode.READWRITE,  # post_build_check reads it back
    )
    report = Connect(
        engine_url="json://{output_path}/analytics_report.json;indent=2",
        access=AccessMode.READWRITE,
    )

    top_paths = 5
    heavy_users = 10
    k_anonymity = 5

    def build(self):
        ev = self.events.df.withColumn("day", F.col("ts").cast("date"))
        out = {}

        # per-day metrics table: DAU + event volume + value turnover
        daily = ev.groupBy("day").agg(
            F.countDistinct("user_id").alias("dau"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,2)"))
            .cast("double")
            .alias("total_value"),
        )
        out["days"] = self.daily_metrics.write(daily)["rows"]

        # ordered funnel: chained MIN aggregates (no sequences)
        v = ev.where("event_type = 'view'").groupBy("user_id").agg(
            F.min("ts").alias("t0"))
        c = (ev.where("event_type = 'click'").alias("e")
             .join(v, "user_id").where("e.ts > t0")
             .groupBy("user_id").agg(F.min("ts").alias("t1")))
        p = (ev.where("event_type = 'purchase'").alias("e")
             .join(c, "user_id").where("e.ts > t1")
             .groupBy("user_id").agg(F.min("ts").alias("t2")))
        out["funnel"] = {
            "view": v.count(), "view_click": c.count(), "view_click_buy": p.count(),
        }

        # top clickstream paths per user-day (deterministic ordering)
        paths = relational.event_paths(
            ev, group_cols=["user_id", "day"],
            order_cols=["ts", "event_id"], value_col="event_type",
        )
        out["top_paths"] = [
            {"path": r["path"], "n": r["n"]}
            for r in paths.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("path")).limit(self.top_paths).collect()
        ]

        # heavy users (exact; the approx_top_k sketch is the at-scale path)
        out["heavy_users"] = [
            {"user_id": r["user_id"], "n": r["n"]}
            for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("user_id")).limit(self.heavy_users).collect()
        ]

        # k-anonymity audit on the (event_type, day) quasi-identifier
        cells = ev.groupBy("event_type", "day").agg(
            F.countDistinct("user_id").alias("k"))
        out["kanonymity"] = {
            "n_cells": cells.count(),
            "cells_below_k": cells.where(F.col("k") < self.k_anonymity).count(),
        }

        self.report.data = out
        for name, v_ in (("days", out["days"]),
                         ("funnel_view", out["funnel"]["view"])):
            self.add_stat(name, v_)
        self.log(f"analytics report: {out['funnel']}")

    def post_build_check(self) -> bool:
        rep = self.report.data
        f = rep["funnel"]
        if not (f["view"] >= f["view_click"] >= f["view_click_buy"] >= 0):
            self.log("funnel is not monotone", "ERROR")
            return False
        if rep["days"] <= 0 or self.daily_metrics.df.count() != rep["days"]:
            self.log("daily metrics table inconsistent", "ERROR")
            return False
        return True


if __name__ == "__main__":
    from ayeaye_spark import connector_resolver

    here = os.path.dirname(os.path.abspath(__file__))
    with connector_resolver.context(
        events_path="/root/testdata/sf0.001/events.parquet", output_path=here
    ):
        DailyAnalyticsReport().go()
