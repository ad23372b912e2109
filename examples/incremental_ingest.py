"""Continuous-ingestion model: fold a new crawl batch into a
deduplicated corpus without re-processing the corpus.

The daily-ingest shape for a 100 TB corpus:

1. read the EXISTING deduplicated corpus (never rewritten);
2. read the new BATCH;
3. drop batch docs that near-duplicate the existing corpus or an
   earlier batch doc (``dedup.minhash_dedup_incremental`` — LSH over
   the union, but exact verification only for pairs with a new side);
4. profile the accepted docs (lang, quality) and append them,
   partitioned by language, plus a JSON ingest report.

Idempotent by construction: ids are deterministic and the accepted set
depends only on (existing, batch) content — re-running the same batch
appends the same rows.  Model/Connect surface is the reference's
(``model.py:55-92``); incremental dedup is new capability (SURVEY §2.5).
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ayeaye_spark import AccessMode, Connect, Model
from ayeaye_spark.operators import dedup
from ayeaye_spark.operators import text as textops


class IncrementalIngest(Model):
    corpus = Connect(engine_url="parquet://{corpus_path}")
    batch = Connect(engine_url="parquet://{batch_path}")
    accepted = Connect(
        engine_url="parquet://{output_path}/accepted.parquet",
        access=AccessMode.READWRITE,  # post_build_check reads it back
    )
    ingest_report = Connect(
        engine_url="json://{output_path}/ingest_report.json;indent=2",
        access=AccessMode.READWRITE,
    )

    threshold = 0.3

    def build(self):
        report = {}
        existing = self.corpus.df
        batch = self.batch.df
        report["batch_size"] = batch.count()

        kept = dedup.minhash_dedup_incremental(
            existing, batch, "doc_id", "text",
            n=3, k=16, bands=4, threshold=self.threshold,
        )
        profiled = textops.with_quality_score(
            textops.with_lang_id(kept, "text"), "text"
        ).select("doc_id", "text", F.col("lang_pred").alias("lang"), "quality_ppm")

        # the write counts what it accepted: the dedup + profiling
        # lineage runs once
        out = self.accepted
        out.connector_kwargs["partition_by"] = ["lang"]
        report["accepted"] = out.write(profiled)["rows"]
        report["rejected_near_dup"] = report["batch_size"] - report["accepted"]
        self.ingest_report.data = report
        for k, v in report.items():
            self.add_stat(k, v)
        self.log(f"ingest report: {report}")

    def post_build_check(self) -> bool:
        back = self.accepted.df
        n = back.count()
        if n != self.ingest_report.data["accepted"]:
            self.log("accepted parquet row count != report", "ERROR")
            return False
        # no accepted doc may near-dup the existing corpus (spot re-check:
        # re-running the incremental dedup on the accepted set must keep all)
        again = dedup.minhash_dedup_incremental(
            self.corpus.df, back.select("doc_id", "text"), "doc_id", "text",
            n=3, k=16, bands=4, threshold=self.threshold,
        )
        if again.count() != n:
            self.log("accepted set is not a fixed point of dedup", "ERROR")
            return False
        return True


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    from ayeaye_spark import connector_resolver

    here = os.path.dirname(os.path.abspath(__file__))
    # demo batch: a hash-bucket slice of the corpus with FRESH ids
    # (ids must be unique across corpus and batch — same-id twins would
    # evade the a<b pairing and sail through "dedup")
    demo = SparkSession.builder.master("local[4]").getOrCreate()
    batch_dir = os.path.join(here, "demo_batch.parquet")
    (
        demo.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .where(F.expr("doc_id % 10 = 0"))
        .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000_000))
        .write.mode("overwrite").parquet(batch_dir)
    )
    with connector_resolver.context(
        corpus_path="/root/testdata/sf0.001/documents.parquet",
        batch_path=batch_dir,
        output_path=here,
    ):
        IncrementalIngest().go()
