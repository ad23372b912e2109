"""Pre-training corpus AUDIT as one Model (round-9 ops).

The read-only due-diligence pass you run on a corpus BEFORE spending
compute on it — nothing is rewritten, the product is a report:

1. hash-keyspace check (``catalog``-style collision audit): distinct
   tokens vs distinct portable/fast hashes — decides whether the
   oracle-portable ~30-bit hash is safe at this corpus size or the
   xxhash64 path (``hash_mode="fast"``) is required;
2. duplicate-cluster shape (``dedup.fingerprint_dedup`` → size
   histogram): long tail of pairs vs monster boilerplate families;
3. dedup bias (mean quality over all docs vs exact-dedup survivors,
   per language) — does dropping duplicates shift the distribution?
4. PII exposure per source (email/phone/IP regex classes) — where
   redaction must run;
5. lexical-diversity profile (``text.token_diversity`` Gini–Simpson
   ppm): corpus-level min/mean plus the worst (most repetitive) docs.

Writes the per-document diversity frame as parquet and a JSON report.
No reference counterpart (SURVEY §2.5 new capability); the
Model/Connect surface is the reference's (``model.py:55-92``).
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ayeaye_spark import AccessMode, Connect, Model
from ayeaye_spark.functions import portable as P
from ayeaye_spark.operators import dedup
from ayeaye_spark.operators import text as textops

SPARK = P.SPARK

#: PII pattern classes (same alternation-free Java/RE2-portable forms
#: as the catalog's docs_pii_audit)
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("phone", r"\+?[0-9][0-9() -]{7,}[0-9]"),
    ("ipv4", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"),
)


class CorpusAudit(Model):
    documents = Connect(engine_url="parquet://{docs_path}")
    diversity = Connect(
        engine_url="parquet://{output_path}/doc_diversity.parquet",
        access=AccessMode.READWRITE,
    )
    report = Connect(
        engine_url="json://{output_path}/corpus_audit.json;indent=2",
        access=AccessMode.READWRITE,
    )

    worst_docs = 5  # most-repetitive documents surfaced in the report

    def build(self):
        docs = self.documents.df

        # 1. hash keyspace: is the portable 30-bit space already
        # colliding at this corpus size?
        toks = docs.select(
            F.explode(F.expr(P.tokens("text", SPARK))).alias("tok")
        ).distinct()
        hk = toks.select(
            F.expr(P.char_hash("tok", SPARK)).alias("_hp"),
            F.expr(P.fast_hash("tok", SPARK)).alias("_hf"),
        ).agg(
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.countDistinct("_hp")).alias("pc"),
            (F.count(F.lit(1)) - F.countDistinct("_hf")).alias("fc"),
        ).collect()[0]
        recommended = "portable" if hk["pc"] == 0 else "fast"

        # 2. duplicate-cluster shape
        hist = (
            dedup.fingerprint_dedup(docs, "text", "doc_id")
            .groupBy(F.col("dup_count").alias("size"))
            .agg(F.count(F.lit(1)).alias("clusters"))
            .orderBy("size")
            .collect()
        )
        n_docs = sum(r["size"] * r["clusters"] for r in hist)
        n_survivors = sum(r["clusters"] for r in hist)

        # 3. dedup quality bias per language
        q = textops.with_quality_score(docs, "text", out_col="qp")
        keep = (
            dedup.fingerprint_dedup(docs, "text", "doc_id")
            .select(F.col("keep_id").alias("doc_id"))
            .withColumn("_k", F.lit(1))
        )
        shift = (
            q.select("doc_id", "lang", "qp")
            .join(keep, "doc_id", "left")
            .groupBy("lang")
            .agg(
                F.expr("sum(qp) div count(1)").alias("all_ppm"),
                F.expr(
                    "sum(CASE WHEN _k IS NULL THEN 0 ELSE qp END) "
                    "div greatest(sum(coalesce(_k, 0)), 1)"
                ).alias("kept_ppm"),
            )
            .collect()
        )

        # 4. PII exposure per source
        pii = (
            docs.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("docs"),
                *[
                    F.sum(F.expr(P.rmatch("text", pat, SPARK)).cast("long"))
                    .alias(name)
                    for name, pat in PII_PATTERNS
                ],
            )
            .collect()
        )

        # 5. lexical diversity: persist per-doc, report the dregs.  The
        # summary over scored docs is observed on the write and the dregs
        # come from the persisted table, so token_diversity runs once
        div = textops.token_diversity(docs, "doc_id", "text")
        div_stats = self.diversity.write(
            div,
            n=F.expr("count(CASE WHEN n_tokens > 0 THEN 1 END)"),
            min_ppm=F.expr("min(CASE WHEN n_tokens > 0 THEN diversity_ppm END)"),
            mean_ppm=F.expr(
                "sum(CASE WHEN n_tokens > 0 THEN diversity_ppm END) "
                "div count(CASE WHEN n_tokens > 0 THEN 1 END)"
            ),
        )
        worst = (
            self.diversity.df.where(F.col("n_tokens") > 0)
            .orderBy(F.asc("diversity_ppm"), F.asc("doc_id"))
            .limit(self.worst_docs)
            .collect()
        )

        self.report.data = {
            "n_docs": n_docs,
            "hash_audit": {
                "distinct_tokens": hk["n"],
                "portable_collisions": hk["pc"],
                "fast_collisions": hk["fc"],
                "recommended_hash_mode": recommended,
            },
            "cluster_histogram": [
                {"size": r["size"], "clusters": r["clusters"]} for r in hist
            ],
            "exact_dup_rate_ppm": (n_docs - n_survivors) * 1_000_000 // n_docs
            if n_docs else 0,
            "quality_shift_by_lang": [
                {"lang": r["lang"], "all_ppm": r["all_ppm"],
                 "kept_ppm": r["kept_ppm"]} for r in shift
            ],
            "pii_by_source": [
                {"source": r["source"], "docs": r["docs"],
                 **{name: r[name] for name, _ in PII_PATTERNS}}
                for r in pii
            ],
            "diversity": {
                "scored_docs": div_stats["n"],
                "min_ppm": div_stats["min_ppm"],
                "mean_ppm": div_stats["mean_ppm"],
                "most_repetitive": [
                    {"doc_id": r["doc_id"],
                     "diversity_ppm": r["diversity_ppm"]} for r in worst
                ],
            },
        }
        self.log(
            f"{n_docs} docs audited: {n_docs - n_survivors} exact dups, "
            f"hash_mode={recommended}, mean diversity "
            f"{div_stats['mean_ppm']} ppm"
        )

    def post_build_check(self) -> bool:
        data = self.report.data
        ok = (
            data["n_docs"] > 0
            and data["hash_audit"]["recommended_hash_mode"]
            in ("portable", "fast")
            and data["diversity"]["scored_docs"]
            == self.diversity.df.where(F.col("n_tokens") > 0).count()
        )
        if not ok:
            self.log("corpus audit failed validation", "ERROR")
        return ok
