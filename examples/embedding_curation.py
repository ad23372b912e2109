"""Embedding-corpus curation pipeline as one Model (round-8 ops).

The embedding-side counterpart of ``training_corpus.py``: before
training on (or retrieving against) an embedding corpus you want

1. semantic near-duplicates collapsed (``dedup_semantic_survivors`` —
   IVF-cell-bucketed cosine pairs, min-id survivor per component);
2. a cheap quantized retrieval index sanity-checked against the
   surviving corpus (``similarity.sq8_topk`` — int8 codes, integer
   candidate shortlist, exact rerank);
3. hard negatives mined for contrastive fine-tuning
   (``similarity.hard_negatives`` — nearest cross-label neighbors).

Writes survivors + hard negatives as parquet and a JSON funnel report.
No reference counterpart (SURVEY §2.5 new capability); the
Model/Connect surface is the reference's (``model.py:55-92``).
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ayeaye_spark import AccessMode, Connect, Model
from ayeaye_spark.operators import similarity


class EmbeddingCuration(Model):
    embeddings = Connect(engine_url="parquet://{emb_path}")
    survivors = Connect(
        engine_url="parquet://{output_path}/embedding_survivors.parquet",
        access=AccessMode.READWRITE,
    )
    hard_negatives = Connect(
        engine_url="parquet://{output_path}/hard_negatives.parquet",
        access=AccessMode.READWRITE,
    )
    report = Connect(
        engine_url="json://{output_path}/embedding_curation.json;indent=2",
        access=AccessMode.READWRITE,
    )
    arrow_export = Connect(
        engine_url="arrow://{output_path}/survivor_shards;shards=4;key=vec_id",
        access=AccessMode.READWRITE,  # post_build_check reads it back
    )

    dedup_threshold = 0.995  # cosine >= threshold => semantic duplicate
    n_query_vectors = 8      # retrieval sanity probe size
    negatives_per_query = 3

    def build(self):
        emb = self.embeddings.df
        n_in = emb.count()

        # IVF cells from deterministic centroid picks (every 50th id),
        # same convention as the catalog's semantic-dedup queries
        centroids = emb.where(F.col("vec_id") % 50 == 0)
        surviving = similarity.semantic_dedup_survivors(
            emb, centroids, threshold=self.dedup_threshold
        )
        n_kept = self.survivors.write(surviving)["rows"]

        # interchange export: the curated vectors as Arrow IPC shards —
        # the zero-copy hand-off to single-node tooling (pandas/polars/
        # torch dataloaders memory-map these directly)
        self.arrow_export.write(surviving)
        n_shards = len(self.arrow_export.connector.last_manifest or [])

        probes = surviving.orderBy("vec_id").limit(self.n_query_vectors)
        topk = similarity.sq8_topk(surviving, probes, k=3, rerank=4)
        n_hits = topk.count()

        negs = similarity.hard_negatives(
            surviving, probes, k=self.negatives_per_query
        )
        n_negs = self.hard_negatives.write(negs)["rows"]

        self.report.data = {
            "input_vectors": n_in,
            "survivors": n_kept,
            "semantic_duplicates_removed": n_in - n_kept,
            "sq8_probe_hits": n_hits,
            "hard_negatives": n_negs,
            "arrow_shards": n_shards,
        }
        self.log(
            f"{n_in} vectors -> {n_kept} survivors; "
            f"{n_hits} sq8 probe hits, {n_negs} hard negatives"
        )

    def post_build_check(self) -> bool:
        data = self.report.data
        ok = (
            0 < data["survivors"] <= data["input_vectors"]
            and data["hard_negatives"]
            == self.hard_negatives.df.count()
            # the Arrow export must round-trip the survivor set exactly
            and data["survivors"] == self.arrow_export.df.count()
        )
        if not ok:
            self.log("embedding curation failed validation", "ERROR")
        return ok
