"""ANN index lifecycle: build once, persist, query many times.

Two models chained through ``ModelCollection`` (the DAG infers the run
order from the READ/WRITE declarations, reference ``model_collection``
semantics):

* :class:`BuildAnnIndex` — pick deterministic centroids, assign every
  corpus vector to its nearest cell (one scan + broadcast of the
  centroids), persist the assignments CLUSTERED BY CELL (``sort_by`` —
  each parquet file owns a centroid range, so a query touching few
  cells skips most files on min/max stats) plus the centroid table.
* :class:`QueryAnnIndex` — read the persisted index, assign the query
  vectors to cells, and serve cosine top-k within matching cells only
  (``ivf_topk_from_cells``) — never an all-pairs scan.

The build cost is paid once per corpus refresh; at 100 TB the queries
touch only ``k_cells/n_cells`` of the data.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ayeaye_spark import AccessMode, Connect, Model, ModelCollection
from ayeaye_spark.operators import similarity


class BuildAnnIndex(Model):
    embeddings = Connect(engine_url="parquet://{emb_path}")
    index_cells = Connect(
        engine_url="parquet://{index_path}/cells.parquet",
        access=AccessMode.READWRITE,
        sort_by="centroid_id",
    )
    index_centroids = Connect(
        engine_url="parquet://{index_path}/centroids.parquet",
        access=AccessMode.WRITE,  # written once, never read back here
    )

    centroid_stride = 50  # every 50th vector is a centroid (deterministic)

    def build(self):
        emb = self.embeddings.df
        centroids = emb.where(F.col("vec_id") % self.centroid_stride == 0)
        cells = similarity.assign_cells_vectorized(emb, centroids)
        # one row per vector and per centroid: the writes count them
        n_vectors = self.index_cells.write(cells)["rows"]
        n_centroids = self.index_centroids.write(
            centroids.select("vec_id", "embedding")
        )["rows"]
        self.add_stat("n_vectors", n_vectors)
        self.add_stat("n_centroids", n_centroids)

    def post_build_check(self) -> bool:
        back = self.index_cells.df
        if back.where(F.col("centroid_id").isNull()).count():
            self.log("unassigned vectors in the index", "ERROR")
            return False
        return True


class QueryAnnIndex(Model):
    index_cells = Connect(engine_url="parquet://{index_path}/cells.parquet")
    neighbors = Connect(
        engine_url="parquet://{index_path}/neighbors.parquet",
        access=AccessMode.READWRITE,
    )

    k = 5
    n_queries = 10  # demo: the first ids act as the query batch

    def build(self):
        cells = self.index_cells.df
        queries = cells.where(F.col("vec_id") < self.n_queries)
        topk = similarity.ivf_topk_from_cells(cells, queries, k=self.k)
        self.add_stat("n_result_rows", self.neighbors.write(topk)["rows"])

    def post_build_check(self) -> bool:
        out = self.neighbors.df
        bad = out.groupBy("query_id").count().where(F.col("count") > self.k).count()
        if bad:
            self.log("more than k neighbors for a query", "ERROR")
            return False
        return True


class BuildPqIndex(Model):
    """IVF-PQ index build: one corpus scan → (id, cell, block, code)
    rows persisted CLUSTERED BY CELL — at scale the nprobe filter then
    prunes whole files on min/max stats, and the search never reads the
    original vectors again (256 B/vector shrunk to m small ints)."""

    embeddings = Connect(engine_url="parquet://{emb_path}")
    pq_codes = Connect(
        engine_url="parquet://{index_path}/pq_codes.parquet",
        access=AccessMode.READWRITE,
        sort_by="_cell",
    )

    centroid_stride = 50   # coarse cells: every 50th vector
    codebook_size = 16     # PQ codebook: first 16 vectors

    def build(self):
        emb = self.embeddings.df
        codes = similarity.ivfpq_encode(
            emb,
            coarse=emb.where(F.col("vec_id") % self.centroid_stride == 0),
            codebook=emb.where(F.col("vec_id") < self.codebook_size),
        )
        self.add_stat("n_code_rows", self.pq_codes.write(codes)["rows"])

    def post_build_check(self) -> bool:
        back = self.pq_codes.df
        if back.where(F.col("code").isNull() | F.col("_cell").isNull()).count():
            self.log("null codes/cells in the PQ index", "ERROR")
            return False
        return True


class QueryPqIndex(Model):
    """Serve ADC top-k from the PERSISTED code table: only the probe
    queries' own vectors are read from the embeddings source — the
    corpus side is codes-only."""

    embeddings = Connect(engine_url="parquet://{emb_path}")
    pq_codes = Connect(engine_url="parquet://{index_path}/pq_codes.parquet")
    pq_neighbors = Connect(
        engine_url="parquet://{index_path}/pq_neighbors.parquet",
        access=AccessMode.READWRITE,
    )

    k = 5
    n_queries = 10

    def build(self):
        emb = self.embeddings.df
        topk = similarity.ivfpq_search(
            self.pq_codes.df,
            emb.where(F.col("vec_id") < self.n_queries),
            coarse=emb.where(F.col("vec_id") % BuildPqIndex.centroid_stride == 0),
            codebook=emb.where(F.col("vec_id") < BuildPqIndex.codebook_size),
            k=self.k,
        )
        self.add_stat("n_result_rows", self.pq_neighbors.write(topk)["rows"])

    def post_build_check(self) -> bool:
        out = self.pq_neighbors.df
        bad = out.groupBy("query_id").count().where(F.col("count") > self.k).count()
        if bad:
            self.log("more than k neighbors for a query", "ERROR")
            return False
        return True


def pipeline() -> ModelCollection:
    return ModelCollection([BuildAnnIndex, QueryAnnIndex, BuildPqIndex, QueryPqIndex])


if __name__ == "__main__":
    from ayeaye_spark import connector_resolver

    here = os.path.dirname(os.path.abspath(__file__))
    with connector_resolver.context(
        emb_path="/root/testdata/sf0.001/embeddings.parquet",
        index_path=os.path.join(here, "ann_index_out"),
    ):
        pipeline().run()
