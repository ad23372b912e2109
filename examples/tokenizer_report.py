"""Tokenizer-planning report as one Model (round-8 text operators).

Before training a tokenizer over a new corpus, three questions decide
the budget and the cleaning bar:

1. how big a vocabulary covers 50/90/99% of the token stream
   (``text.vocab_coverage`` — count-class histogram, closed-form
   crossing, no per-token ranking);
2. what the first BPE merges would be (``text.bpe_top_merges`` —
   corpus collapses to the word-frequency frame once, vocab-sized
   greedy iterations);
3. how much of the corpus is low-coherence noise under its own bigram
   LM (``text.bigram_coherence`` — integer-ppm transition
   probabilities, the log-free perplexity-filter analogue).

Writes the per-document coherence table as parquet and a JSON report
with the coverage curve + learned merges.  No reference counterpart
(SURVEY §2.5 new capability); the Model/Connect surface is the
reference's (``model.py:55-92``).
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ayeaye_spark import AccessMode, Connect, Model
from ayeaye_spark.operators import text as textops


class TokenizerReport(Model):
    documents = Connect(engine_url="parquet://{docs_path}")
    coherence_table = Connect(
        engine_url="parquet://{output_path}/doc_coherence.parquet",
        access=AccessMode.READWRITE,  # post_build_check reads it back
    )
    report = Connect(
        engine_url="json://{output_path}/tokenizer_report.json;indent=2",
        access=AccessMode.READWRITE,
    )

    n_merges = 6
    low_coherence_ppm = 100_000  # "word salad" flag threshold

    def build(self):
        docs = self.documents.df

        coverage = textops.vocab_coverage(docs, "text").orderBy("pct")
        merges = textops.bpe_top_merges(
            docs, "text", n_merges=self.n_merges
        ).orderBy("merge_rank")
        coherence = textops.bigram_coherence(docs, "doc_id", "text")
        n_docs = self.coherence_table.write(coherence)["rows"]

        flagged = coherence.where(
            (F.col("n_bigrams") > 0)
            & (F.col("coherence_ppm") < self.low_coherence_ppm)
        ).count()
        self.report.data = {
            "coverage": [
                {"pct": r["pct"], "vocab_size": r["vocab_size"],
                 "covered": r["covered_occurrences"],
                 "total": r["total_occurrences"]}
                for r in coverage.collect()
            ],
            "merges": [
                {"rank": r["merge_rank"], "pair": [r["left"], r["right"]],
                 "count": r["pair_count"]}
                for r in merges.collect()
            ],
            "n_docs": n_docs,
            "n_low_coherence": flagged,
        }
        self.log(
            f"coverage rows={len(self.report.data['coverage'])} "
            f"merges={len(self.report.data['merges'])} "
            f"low-coherence docs={flagged}"
        )

    def post_build_check(self) -> bool:
        data = self.report.data
        ok = (
            len(data["coverage"]) == 3
            and all(c["vocab_size"] > 0 for c in data["coverage"])
            and data["n_docs"] == self.coherence_table.df.count()
        )
        if not ok:
            self.log("tokenizer report failed validation", "ERROR")
        return ok
