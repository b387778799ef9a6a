"""Durable ANN index lifecycle: build / save / load / search.

The IVF and PQ operators (operators/clustering.py, operators/pq.py) are
pure plan builders; a real deployment trains them ONCE over the corpus and
persists three tables — coarse cells, PQ codebooks, per-vector codes+cell —
then serves every query batch from the persisted artifacts without ever
re-reading raw embeddings. This module is that lifecycle, with parquet as
the artifact format (same layout a 1000-executor cluster would use on
object storage):

    idx = AnnIndex.build(embeddings, cells=16, m=8, k=16)
    idx.save(path)                      # 3 parquet tables + a JSON manifest
    idx2 = AnnIndex.load(spark, path)   # no embeddings needed
    idx2.search(probes, topk=5, nprobe=4)

search() is ivfpq_topk over the persisted tables: the candidate join reads
only (cell, codes) — 9 bytes of index per corpus vector — plus broadcast
centroid/codebook tables. The raw corpus floats are never touched at query
time, which is the entire point at 100 TB.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F


class AnnIndex:
    """Handle over the three persisted tables + hyperparameters."""

    def __init__(
        self,
        cells: DataFrame,
        codebooks: DataFrame,
        codes: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.cells = cells          # (cell int, centroid array<double>)
        self.codebooks = codebooks  # (j int, cell int, centroid array<double>)
        self.codes = codes          # (id, cell int, codes array<int>)
        self.id_col = id_col
        self.vec_col = vec_col

    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        cells: int = 16,
        m: int = 8,
        k: int = 16,
        cell_iters: int = 5,
        pq_iters: int = 3,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "AnnIndex":
        """Train the coarse quantizer + codebooks and encode the corpus —
        the one pass that touches raw vectors."""
        from corintick_spark.operators.clustering import kmeans_assign, kmeans_fit
        from corintick_spark.operators.pq import pq_encode, pq_fit

        cell_df = kmeans_fit(corpus, k=cells, iters=cell_iters, id_col=id_col, vec_col=vec_col)
        books = pq_fit(corpus, m=m, k=k, iters=pq_iters, id_col=id_col, vec_col=vec_col)
        assigned = kmeans_assign(corpus, cell_df, id_col, vec_col).select(id_col, "cell")
        codes = pq_encode(corpus, books, id_col, vec_col).join(assigned, id_col)
        return cls(cell_df, books, codes, id_col, vec_col)

    def save(self, path: str) -> None:
        """Persist the artifacts. The codes table is the big one — it is
        written partitioned BY CELL, so a search's candidate read prunes to
        the probed cells' files (partition pruning does the inverted-list
        seek)."""
        self.cells.write.mode("overwrite").parquet(os.path.join(path, "cells"))
        self.codebooks.write.mode("overwrite").parquet(os.path.join(path, "codebooks"))
        (
            self.codes.repartition("cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(os.path.join(path, "codes"))
        )
        manifest = {"id_col": self.id_col, "vec_col": self.vec_col, "version": 1}
        with open(os.path.join(path, "manifest.json"), "w") as f:
            json.dump(manifest, f)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "AnnIndex":
        with open(os.path.join(path, "manifest.json")) as f:
            manifest = json.load(f)
        return cls(
            spark.read.parquet(os.path.join(path, "cells")),
            spark.read.parquet(os.path.join(path, "codebooks")),
            spark.read.parquet(os.path.join(path, "codes")),
            manifest["id_col"],
            manifest["vec_col"],
        )

    def search(self, queries: DataFrame, topk: int = 5, nprobe: int = 4) -> DataFrame:
        """IVFADC over the persisted tables: probe nprobe cells, ADC-score
        their codes, exact row set as ivfpq_topk (same ranking contract:
        (q_id, c_id, adc_dist, rank))."""
        from pyspark.sql import Window as W

        from corintick_spark.operators.pq import _books, _dtab_frame, _no_candidates, _sq

        cb = _books(self.codebooks)
        if cb is None:
            return _no_candidates(queries, self.id_col)

        q_vecs = queries.select(
            F.col(self.id_col).alias("q_id"),
            F.expr(f"transform({self.vec_col}, x -> CAST(x AS DOUBLE))").alias("q_v"),
        )
        q_probe = (
            q_vecs.crossJoin(F.broadcast(self.cells))
            .withColumn("_d", _sq("q_v", "centroid"))
            .withColumn(
                "_rk",
                F.row_number().over(W.partitionBy("q_id").orderBy("_d", "cell")),
            )
            .filter(F.col("_rk") <= nprobe)
            .select("q_id", "cell")
        )
        dtab = _dtab_frame(queries, cb, self.id_col, self.vec_col)
        adc = F.expr(
            "aggregate(zip_with(codes, dtab, (c, row) -> element_at(row, c + 1)),"
            " 0D, (s, v) -> s + v)"
        )
        w = W.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("c_id"))
        return (
            q_probe.join(
                self.codes.select(F.col(self.id_col).alias("c_id"), "cell", "codes"),
                "cell",
            )
            .filter(F.col("q_id") != F.col("c_id"))
            .join(F.broadcast(dtab), "q_id")
            .withColumn("adc_dist", F.round(adc, 6))
            .select(
                "q_id",
                "c_id",
                "adc_dist",
                F.row_number().over(w).cast("bigint").alias("rank"),
            )
            .filter(F.col("rank") <= topk)
        )


class GraphIndex:
    """Durable graph-ANN index (operators/nndescent.py): two persisted
    tables — the k-NN graph (id, nbr, score) and the prepped vector table
    (id, vec, n2) — plus HNSW-style incremental insertion.

    Lifecycle mirrors :class:`AnnIndex`: build ONCE over the corpus (the
    only pass that scores O(n·k²) pairs), persist, then serve every query
    batch and every ingest batch from the artifacts. Both tables are
    written repartitioned by id so a cluster deployment can bucket them on
    id and the per-hop candidate lookup joins shuffle-free.

        gx = GraphIndex.build(embeddings, k=10, iters=3)
        gx.save(path)
        gx2 = GraphIndex.load(spark, path)
        gx2.search(probes, k=5)                  # corpus never re-read
        gx3 = gx2.insert(new_batch)              # graph repaired, not rebuilt
    """

    def __init__(self, graph: DataFrame, vectors: DataFrame, k: int,
                 id_col: str = "vec_id", vec_col: str = "embedding"):
        self.graph = graph        # (id, nbr, score)
        self.vectors = vectors    # (id, vec, n2)
        self.k = k
        self.id_col = id_col
        self.vec_col = vec_col

    @classmethod
    def build(cls, corpus: DataFrame, k: int = 10, iters: int = 3,
              build_k: int | None = None, seed: int = 42,
              id_col: str = "vec_id", vec_col: str = "embedding") -> "GraphIndex":
        from corintick_spark.operators.nndescent import _prep, knn_graph

        g = knn_graph(corpus, k=k, iters=iters, build_k=build_k, seed=seed,
                      id_col=id_col, vec_col=vec_col).select("id", "nbr", "score")
        return cls(g, _prep(corpus, id_col, vec_col), k, id_col, vec_col)

    def save(self, path: str) -> None:
        self.graph.repartition("id").write.mode("overwrite").parquet(
            os.path.join(path, "graph")
        )
        self.vectors.repartition("id").write.mode("overwrite").parquet(
            os.path.join(path, "vectors")
        )
        with open(os.path.join(path, "manifest.json"), "w") as f:
            json.dump({"k": self.k, "id_col": self.id_col,
                       "vec_col": self.vec_col, "version": 1}, f)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "GraphIndex":
        with open(os.path.join(path, "manifest.json")) as f:
            m = json.load(f)
        return cls(spark.read.parquet(os.path.join(path, "graph")),
                   spark.read.parquet(os.path.join(path, "vectors")),
                   m["k"], m["id_col"], m["vec_col"])

    def search(self, probes: DataFrame, k: int = 5, beam: int = 15,
               hops: int = 3, sample_size: int = 128, seed: int = 42) -> DataFrame:
        """Batched beam search over the persisted tables — raw corpus
        embeddings are never touched (the prepped vector table serves the
        per-hop lookups)."""
        from corintick_spark.operators.nndescent import graph_search

        return graph_search(probes, self.graph, self.vectors, k=k, beam=beam,
                            hops=hops, sample_size=sample_size, seed=seed,
                            id_col=self.id_col, vec_col=self.vec_col)

    def insert_delta(self, batch: DataFrame, beam: int = 15, hops: int = 3,
                     sample_size: int = 128, seed: int = 42,
                     ) -> "tuple[DataFrame, DataFrame, DataFrame]":
        """The replace-set an HNSW-style insertion produces, WITHOUT merging
        it into this index: ``(delta_graph, new_vecs, touched)`` where
        ``delta_graph`` holds the COMPLETE post-insert adjacency lists for
        every id the insertion writes (all batch ids + the touched corpus
        nodes), ``new_vecs`` is the batch's prepped (id, vec, n2) rows and
        ``touched`` the (id) frame of corpus nodes whose lists changed.

        This is the unit an epoch-keyed store commit needs
        (streaming/graph_ingest.py): per micro-batch, persist delta_graph
        + new_vecs and let a latest-epoch-wins read supersede the touched
        nodes' old lists — the untouched corpus rows are never rewritten.
        :meth:`insert` is this plus the in-plan merge.
        """
        from corintick_spark.operators.nndescent import (
            _prep, _top_k, graph_search, knn_graph,
        )

        new_vecs = _prep(batch, self.id_col, self.vec_col)
        found = graph_search(
            batch, self.graph, self.vectors, k=self.k, beam=beam, hops=hops,
            sample_size=sample_size, seed=seed,
            id_col=self.id_col, vec_col=self.vec_col,
        ).select("q_id", "c_id", "score")
        intra = knn_graph(
            batch, k=self.k, iters=2, seed=seed,
            id_col=self.id_col, vec_col=self.vec_col,
        ).select("id", "nbr", "score")
        fwd = found.select(
            F.col("q_id").alias("id"), F.col("c_id").alias("nbr"), "score"
        ).unionByName(intra)
        rev = found.select(
            F.col("c_id").alias("id"), F.col("q_id").alias("nbr"), "score"
        )
        touched = rev.select("id").distinct()
        delta_graph = _top_k(
            self.graph.join(touched, "id", "left_semi")
            .unionByName(rev)
            .unionByName(fwd)
            # old-corpus and batch id spaces are disjoint by contract, but a
            # caller re-inserting an id must not create duplicate edges
            .dropDuplicates(["id", "nbr"]),
            self.k,
        )
        return delta_graph, new_vecs, touched

    def insert(self, batch: DataFrame, beam: int = 15, hops: int = 3,
               sample_size: int = 128, seed: int = 42) -> "GraphIndex":
        """HNSW-style incremental insertion: SEARCH the persisted graph for
        each new vector's k nearest (corpus never re-scored), CONNECT both
        directions, and re-trim only the touched nodes' lists. Intra-batch
        structure comes from a NN-Descent run over the batch alone (the
        batch is the small side by assumption — a day's ingest vs the
        corpus). Returns a new GraphIndex sharing this one's artifacts.

        Scale posture (matches operators/dedup.py::incremental_neardup):
        cost is O(|batch|·(sample_size + beam·k·hops)) scores plus the
        batch-local build — independent of corpus size except the id-joins
        against the persisted (bucketable) tables; untouched corpus rows
        are carried by anti-join, never re-ranked.
        """
        delta_graph, new_vecs, touched = self.insert_delta(
            batch, beam=beam, hops=hops, sample_size=sample_size, seed=seed
        )
        untouched = self.graph.join(touched, "id", "left_anti")
        return GraphIndex(
            untouched.unionByName(delta_graph),
            self.vectors.unionByName(new_vecs),
            self.k, self.id_col, self.vec_col,
        )
