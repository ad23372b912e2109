"""Crawl-archive ingest as one Model: an ACTUAL ``.warc.gz`` archive in,
a curated per-page corpus + WebDataset training shards out — the
end-to-end path ``warc_crawl_curation`` pins as a catalog query,
restated in the reference's Model/Connect idiom (``model.py:55-92``):

1. ``warc://`` connector with ``;responses`` — ISO 28500 parse + HTTP
   projection (status, content-type, body, decoded html);
2. robots split — the archive carries each host's ``robots.txt``
   response alongside its pages, as real crawls do;
3. ``web.robots_filter`` — the RFC 9309 compliance gate;
4. ``web.html_extract`` — visible text + link counts;
5. ``web.url_dedup`` — canonical-URL survivor selection;
6. ``wds://`` export of the surviving pages' extracted text, shard
   membership a pure function of the canonical URL (byte-deterministic
   shards; publishes through the Hadoop FS API, so ``out`` may be a
   shared mount or any ``file://``/``hdfs://``/``s3a://`` URI).

Scale shape: archives parse one-per-task, robots files are per-host
and small (host-keyed equi-join), the dedup is one hash aggregate on
the canonical key, the export is one shard per task — nothing funnels
to the driver but the run report.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ayeaye_spark import AccessMode, Connect, Model
from ayeaye_spark.functions import portable as P
from ayeaye_spark.operators import web


class CrawlIngest(Model):
    crawl = Connect(engine_url="warc://{archive_path};responses")
    corpus = Connect(
        engine_url="parquet://{output_path}/crawl_corpus.parquet",
        access=AccessMode.READWRITE,
    )
    shards = Connect(
        engine_url="wds://{output_path}/shards;shards=2;key=keep_url",
        access=AccessMode.READWRITE,
        member_cols={"txt": "text"},
    )
    report = Connect(
        engine_url="json://{output_path}/crawl_ingest.json;indent=2",
        access=AccessMode.READWRITE,
    )

    def build(self):
        resp = self.crawl.df
        robots = resp.where(
            F.col("target_uri").endswith("/robots.txt")
        ).select(
            F.expr(P.url_host("target_uri", P.SPARK)).alias("host"),
            F.col("html").alias("robots_txt"),
        )
        pages = resp.where(
            (F.col("http_status") == 200)
            & F.col("html").isNotNull()
            & ~F.col("target_uri").endswith("/robots.txt")
        ).select(F.col("target_uri").alias("url"), "html")
        n_pages = pages.count()

        gate = web.robots_filter(pages, robots, "url", "url")
        allowed = pages.join(gate.where("allowed").select("url"), "url")
        n_allowed = allowed.count()

        extracted = web.html_extract(allowed, "url", "html")
        survivors = web.url_dedup(allowed, "url", "url").withColumnRenamed(
            "keep_id", "keep_url"
        )
        corpus = survivors.join(
            extracted.select(F.col("url").alias("keep_url"), "text",
                             "n_links"),
            "keep_url",
        ).select("canonical_url", "keep_url", "dup_count", "n_links", "text")
        n_survivors = self.corpus.write(corpus)["rows"]
        self.shards.write(corpus.select("keep_url", "text"))
        shard_rows = self.shards.last_manifest or []

        self.report.data = {
            "n_http_pages": n_pages,
            "n_robots_allowed": n_allowed,
            "n_canonical_survivors": n_survivors,
            "n_shards": len(shard_rows),
            "shard_keys": sum(r["n_keys"] for r in shard_rows),
        }
        self.log(
            f"crawl ingest: {n_pages} pages -> {n_allowed} allowed -> "
            f"{n_survivors} survivors -> {len(shard_rows)} shards"
        )

    def post_build_check(self) -> bool:
        """Funnel monotonicity + shards carry exactly the survivors."""
        doc = self.report.data.as_native()
        ok = (
            doc["n_http_pages"] >= doc["n_robots_allowed"]
            >= doc["n_canonical_survivors"] == doc["shard_keys"] > 0
        )
        if not ok:
            self.log("crawl-ingest funnel check failed", "ERROR")
        return bool(ok)
