"""Hybrid search pipeline as one Model: keyword + dense + fusion.

The retrieval stack a curation/search team actually deploys, composed
from the engine's verified operators:

1. BM25 keyword top-k over the documents table (exact rational
   arithmetic — ``text.bm25_topk``);
2. dense cosine top-k over the embeddings table for a query vector
   (broadcast-queries × one corpus scan — ``similarity.cosine_topk``);
3. reciprocal-rank fusion of the two rankings
   (``relational.rrf_fuse`` — only RANKS enter, so incomparable score
   scales fuse safely);
4. the fused result enriched with the matched documents' text and
   published as parquet + a JSON run report.

Model/Connect surface is the reference's (``model.py:55-92``); no
reference counterpart for the retrieval stack itself.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from ayeaye_spark import AccessMode, Connect, Model
from ayeaye_spark.operators import relational, similarity
from ayeaye_spark.operators import text as textops


class HybridSearch(Model):
    documents = Connect(engine_url="parquet://{docs_path}")
    embeddings = Connect(engine_url="parquet://{emb_path}")
    results = Connect(
        engine_url="parquet://{output_path}/hybrid_results.parquet",
        access=AccessMode.READWRITE,
    )
    report = Connect(
        engine_url="json://{output_path}/hybrid_search.json;indent=2",
        access=AccessMode.READWRITE,
    )

    query_terms = ("dup", "spark", "vector")
    query_vec_id = 0     # the dense query = this row's embedding
    candidates_k = 20    # per-ranker candidate depth
    fused_k = 10         # final fused result size

    def build(self):
        docs = self.documents.df
        emb = self.embeddings.df

        bm = textops.bm25_topk(
            docs, "doc_id", "text", list(self.query_terms),
            topk=self.candidates_k,
        ).withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("bm25_score"), F.asc("doc_id"))
            ),
        ).select("doc_id", "rank")

        dense = similarity.cosine_topk(
            emb, emb.where(F.col("vec_id") == self.query_vec_id),
            k=self.candidates_k,
        ).select(F.col("neighbor_id").alias("doc_id"), "rank")

        fused = relational.rrf_fuse(
            [bm, dense], "doc_id", k0=60, topk=self.fused_k
        )
        enriched = fused.join(
            docs.select("doc_id", "lang", F.substring("text", 1, 120).alias("snippet")),
            "doc_id",
        )
        rows = self.results.write(enriched)["rows"]
        n_both = enriched.where(F.col("n_lists") == 2).count()
        self.report.data = {
            "query_terms": list(self.query_terms),
            "query_vec_id": self.query_vec_id,
            "results": rows,
            "in_both_rankers": n_both,
        }
        self.log(f"hybrid search: {rows} fused results, {n_both} in both rankers")

    def post_build_check(self) -> bool:
        out = self.results.df
        ok = out.count() == self.report.data["results"] > 0
        # fused ranks must be 1..k with no gaps
        ranks = sorted(r["rank"] for r in out.select("rank").collect())
        ok = ok and ranks == list(range(1, len(ranks) + 1))
        if not ok:
            self.log("hybrid search output failed validation", "ERROR")
        return ok


if __name__ == "__main__":
    from ayeaye_spark import connector_resolver

    here = os.path.dirname(os.path.abspath(__file__))
    with connector_resolver.context(
        docs_path="/root/testdata/sf0.001/documents.parquet",
        emb_path="/root/testdata/sf0.001/embeddings.parquet",
        output_path=here,
    ):
        HybridSearch().go()
