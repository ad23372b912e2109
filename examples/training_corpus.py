"""End-to-end training-corpus curation pipeline as one Model.

The full LLM-data path composed from the engine's curation operators,
all deterministic (hash-bucket selection, integer token math — the same
corpus comes out on any cluster size or engine):

1. source-reputation cut (drop every document from sources whose MEAN
   quality is below the bar — the domain-level web filter);
1b. Gopher format/repetition rules (arXiv:2112.11446: word-count and
   word-length bounds, symbol/bullet/ellipsis ratios, stopword floor);
2. exact-substring trim (drop documents mostly covered by 5-token
   spans shared with other documents — syndication/boilerplate);
3. near-duplicate removal (MinHash LSH, vectorized signatures);
4. deterministic train/eval split (LCG id buckets);
5. benchmark decontamination — drop train docs sharing n-grams with the
   eval split;
6. language rebalancing (stratified deterministic downsampling);
7. quality-ranked token budgeting;
8. training-sequence packing into fixed-token packs;
9. seeded epoch ordering (md5 permutation of packs — a new seed is a
   new epoch, the same seed replays bit-identically);
10. WebDataset export — the curated train docs as byte-deterministic
   tar shards (``wds://`` connector), the format training loaders
   stream straight from object storage.

Writes the packed corpus as parquet and a JSON stage-by-stage funnel
manifest.  No reference counterpart (SURVEY §2.5 new capability) —
the Model/Connect surface is the reference's (``model.py:55-92``).
"""

import os
import sys

# allow running as a plain script: put the repo root on sys.path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ayeaye_spark import AccessMode, Connect, Model
from ayeaye_spark.operators import dedup, sampling
from ayeaye_spark.operators import text as textops


class TrainingCorpusPipeline(Model):
    documents = Connect(engine_url="parquet://{docs_path}")
    packed_corpus = Connect(
        engine_url="parquet://{output_path}/packed_corpus.parquet",
        access=AccessMode.READWRITE,  # post_build_check reads it back
    )
    token_shards = Connect(
        engine_url="parquet://{output_path}/token_shards.parquet",
        access=AccessMode.READWRITE,  # post_build_check reads it back
    )
    funnel_manifest = Connect(
        engine_url="json://{output_path}/corpus_funnel.json;indent=2",
        access=AccessMode.READWRITE,  # post_build_check reads it back
    )
    wds_export = Connect(
        engine_url="wds://{output_path}/wds_shards;shards=4;key=doc_id",
        access=AccessMode.READWRITE,  # post_build_check reads it back
        member_cols={"txt": "text"},
    )

    pack_budget = 2048           # tokens per training sequence
    corpus_budget = 15_000       # total token budget after quality ranking
    en_keep_permille = 500       # downsample dominant language to 50%
    epoch_seed = "epoch0"        # pack read-order permutation seed
    source_quality_bar = 600_000  # min MEAN source quality (ppm)
    max_dup_span_ppm = 500_000   # drop docs >=50% covered by shared spans

    def build(self):
        funnel = {}
        docs = self.documents.df
        funnel["input"] = docs.count()

        # 1. source-reputation cut: a good page on a spam domain is
        # still dropped — that is the point of the domain-level filter
        docs = textops.source_quality_filter(
            docs, "text", "source", min_mean_ppm=self.source_quality_bar
        ).drop("quality_ppm", "source_mean_ppm")
        funnel["after_source_filter"] = docs.count()

        # 1b. Gopher format/repetition rules: the per-document floor
        # the domain-level filter cannot see
        cols = docs.columns
        docs = textops.with_gopher_flags(docs, "text").where(
            F.col("gopher_pass")
        ).select(*cols)
        funnel["after_gopher_rules"] = docs.count()

        # 2. exact-substring trim: near-verbatim syndication and
        # template passages that survive document-level near-dup
        heavy_dup = dedup.repeated_span_profile(
            docs, "doc_id", "text", n=5, min_docs=2
        ).where(F.col("dup_ppm") >= self.max_dup_span_ppm).select("doc_id")
        docs = docs.join(heavy_dup, on="doc_id", how="left_anti")
        funnel["after_span_trim"] = docs.count()

        # 3. near-dup removal (transitive closure is a separate job at
        # scale; single-link is the standard first pass)
        docs = dedup.minhash_dedup(docs, "doc_id", "text", n=3, k=16,
                                   bands=4, threshold=0.3)
        funnel["after_dedup"] = docs.count()

        # 2. deterministic split: eval buckets never train
        docs = sampling.deterministic_split(docs, "doc_id")
        train = docs.where(F.col("split") == "train").drop("split")
        eval_docs = docs.where(F.col("split") != "train").drop("split")

        # 3. decontamination: drop train docs overlapping the eval split
        contaminated = dedup.contamination_pairs(
            eval_docs, train, "doc_id", "text", n=3, min_shared=2
        ).select(F.col("train_id").alias("doc_id")).distinct()
        train = train.join(contaminated, on="doc_id", how="left_anti")
        funnel["after_decontamination"] = train.count()

        # 4. language rebalance (nested samples: growing a rate later
        # only adds docs)
        train = sampling.rate_sample(
            train, "doc_id",
            rate_by={"lang": {"en": self.en_keep_permille}},
            default_permille=1000,
        )
        funnel["after_rebalance"] = train.count()

        # 5. quality-ranked token budget
        train = textops.with_quality_score(train, "text")
        train = textops.with_token_counts(train, "text").withColumn(
            "ntok", F.col("ws_tokens").cast("long")
        )
        train = sampling.token_budget_filter(
            train, id_col="doc_id", token_col="ntok",
            score_col="quality_ppm", budget=self.corpus_budget,
        )
        funnel["after_token_budget"] = train.count()

        # 6. pack into fixed-token training sequences
        packed = sampling.pack_sequences(
            train, id_col="doc_id", token_col="ntok", budget=self.pack_budget
        ).select("doc_id", "lang", "ntok", "quality_ppm", "pack_id")

        # 7. seeded epoch order: a deterministic md5 permutation of the
        # PACKS (the training read order), joined back to the rows
        epoch = sampling.seeded_shuffle(
            packed.select("pack_id").distinct(), "pack_id", seed=self.epoch_seed,
        ).select("pack_id", F.col("shuffle_pos").alias("epoch_pos"))
        packed = packed.join(epoch, on="pack_id")
        self.packed_corpus.write(packed)

        # 8. terminal step: the curated train set as ACTUAL trainer
        # input — token-id sequences with EOS boundaries and in-pack
        # doc offsets (block-diagonal attention masks)
        shards = sampling.tokenize_pack_shards(
            train.select("doc_id", "text"), "doc_id", "text",
            vocab_size=4096, budget=self.pack_budget,
        )
        n_shards = self.token_shards.write(shards)["rows"]

        # 9. interchange export: the curated train docs as WebDataset
        # tar shards ({doc_id}.txt members, byte-deterministic) — the
        # format training loaders stream straight from object storage
        self.wds_export.write(train.select("doc_id", "text"))
        manifest = self.wds_export.connector.last_manifest or []
        funnel["n_wds_shards"] = len(manifest)
        funnel["n_wds_docs"] = sum(m["n_keys"] for m in manifest)

        funnel["n_packs"] = packed.select("pack_id").distinct().count()
        funnel["total_tokens"] = packed.agg(F.sum("ntok")).collect()[0][0]
        funnel["n_shards"] = n_shards
        funnel["shard_tokens"] = shards.agg(
            F.sum("n_tokens")
        ).collect()[0][0]
        self.funnel_manifest.data = funnel
        for k, v in funnel.items():
            self.add_stat(k, v)
        self.log(f"corpus funnel: {funnel}")

    def post_build_check(self) -> bool:
        out = self.packed_corpus.df
        # every pack except possibly the last stays within budget + one doc
        overfull = out.groupBy("pack_id").agg(F.sum("ntok").alias("t")).where(
            F.col("t") > self.pack_budget * 2
        ).count()
        if overfull:
            self.log(f"{overfull} packs wildly over budget", "ERROR")
            return False
        if self.funnel_manifest.data["total_tokens"] > self.corpus_budget:
            self.log("token budget exceeded", "ERROR")
            return False
        # the WebDataset export must round-trip: distinct sample keys in
        # the tar shards == documents exported
        wds_docs = self.wds_export.df.select("key").distinct().count()
        if wds_docs != self.funnel_manifest.data["n_wds_docs"]:
            self.log(
                f"wds export mismatch: {wds_docs} keys vs "
                f"{self.funnel_manifest.data['n_wds_docs']} exported", "ERROR"
            )
            return False
        return True


if __name__ == "__main__":
    from ayeaye_spark import connector_resolver

    here = os.path.dirname(os.path.abspath(__file__))
    with connector_resolver.context(
        docs_path="/root/testdata/sf0.001/documents.parquet", output_path=here
    ):
        TrainingCorpusPipeline().go()
