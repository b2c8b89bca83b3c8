"""Incremental IVF-PQ index maintenance for an embedding stream — the
streaming leg of the ANN family (operators/pq.py), stored through the
shared parts-and-manifest protocol (``parts.PartStore``).

The batch side builds the billion-scale layout once (train → encode →
query); a training-data pipeline's corpus, however, GROWS — new documents
arrive embedded and must become searchable without re-encoding history.
This sink maintains that index incrementally:

- **Insert = part.** Batch N's vectors are encoded into (4 + m)-byte index
  rows — cell id + m PQ codes, via the SAME ``ivfpq_encode_math`` the
  batch path runs — and written to ``parts/batch=N/codes`` (plus the
  batch's bounded training-sample candidates under ``…/sample``). Both
  leaves are staged and published together in one rename, so a part is
  never torn, and a replayed batch finds its part published and is
  skipped: exactly-once, no marker.
- **Generations, not rewrites.** Each row is tagged with the
  ``model_version`` that encoded it. ``refresh()`` first folds all live
  parts (so replays of pre-refresh batches are watermark-skipped), then
  trains a NEW generation from the accumulated sample — subsequent
  batches encode under it while old rows stay valid under theirs. PQ
  codes are not invertible, so in-place re-encoding of history is
  impossible by design; the periodic from-source re-encode is
  ``rebuild()``, the standard nightly job.
- **Bounded, deterministic training sample.** Each part keeps its
  ``sample_k`` lowest rows by the layout-independent md5 rank
  (``similarity.sample_order_expr``: md5 of "{seed}_{id}", a pure
  function of the row). The lowest-k of a union of lowest-k sets IS the
  global lowest-k, so the accumulated sample is a deterministic function
  of the SET of seen ids — independent of batch boundaries, arrival
  order, and partition layout (asserted in tests/test_ann_sink.py).
- **Compaction + serve.** ``compact()`` folds live parts into a new base
  version committed as the next write-once manifest version (the store's
  crash-safety argument — every crash point leaves the highest manifest
  naming a fully-written base). Models are ``models/vK.json``, committed
  through the same write-once commit. ``serve()`` unions base +
  live parts; ``topk()`` probes each generation with its own model via
  the batch ``ivfpq_topk`` operator and merges per-query results.

At 100 TB: index rows are (4 + m) bytes and never rewritten; the sample
is ≤ sample_k rows per part and collapses at compaction; models are
few-KB JSON artifacts; a query touches ≈ nprobe/n_cells of each
generation's rows with the number of generations bounded by refresh
cadence (and reset to 1 by ``rebuild()``).

Reference parity: the reference delegates storage to ClickHouse
(docker-compose.yml:155-174) and has no ANN surface; this is part of the
EXT training-data layer (SURVEY.md §2.7) the task brief mandates.
"""

from __future__ import annotations

import json
import os
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pq import ivfpq_encode, ivfpq_fit, ivfpq_topk
from ..operators.similarity import sample_order_expr
from .buckets import WriteOnce
from .parts import ForeachBatchSink, PartStore


class IvfPqIndexSink(ForeachBatchSink):
    """Maintain an IVF-PQ index over an append-only (id, vector) stream.

    The stream contract is append-only new ids (route updates/deletes
    through the upsert sink upstream if the source is mutable). Pass
    ``model=(cells, books)`` to bootstrap from an offline-trained model —
    the production pattern, and the configuration under which the index
    content is a pure per-row function of the input set (the
    chunked≡monolithic test); without it the first batch trains
    generation 0 from its own md5-rank sample (deterministic per batch
    content, so still replay-stable).
    """

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        n_cells: int = 16,
        m: int = 8,
        k: int = 16,
        n_iters: int = 10,
        seed: int = 42,
        sample_k: int = 2_000,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        model: "tuple[np.ndarray, np.ndarray] | None" = None,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.store = PartStore(spark, index_dir)
        self._models = WriteOnce(spark, os.path.join(index_dir, "models"), "v", ".json")
        self.n_cells, self.m, self.k = n_cells, m, k
        self.n_iters, self.seed, self.sample_k = n_iters, seed, sample_k
        self.vec_col, self.id_col = vec_col, id_col
        if model is not None:  # write-once: a restart keeps the stored v0
            self._write_model(0, *model)

    # -- model store ------------------------------------------------------

    def _write_model(self, version: int, cells, books) -> None:
        self._models.commit(
            version,
            json.dumps({"cells": np.asarray(cells).tolist(),
                        "books": np.asarray(books).tolist()}),
        )

    def load_model(self, version: int) -> "tuple[np.ndarray, np.ndarray]":
        d = json.loads(self._models.read(version))
        return (
            np.array(d["cells"], dtype=np.float64),
            np.array(d["books"], dtype=np.float64),
        )

    def _fit(self, X: "np.ndarray"):
        return ivfpq_fit(X, self.n_cells, self.m, self.k, self.n_iters, self.seed)

    def _train(self, version: int, sample: DataFrame):
        """Fit a model on ``sample``'s vectors and commit it as ``version``."""
        X = np.array([r[self.vec_col] for r in sample.collect()], dtype=np.float64)
        cells, books = self._fit(X)
        self._write_model(version, cells, books)
        return cells, books

    # -- batch processing -------------------------------------------------

    def _sample_candidates(self, df: DataFrame) -> DataFrame:
        """The batch's lowest-``sample_k`` rows by md5 rank — a
        TakeOrdered per-partition heap, never a global sort."""
        return (
            df.select(
                F.col(self.id_col),
                F.col(self.vec_col).cast("array<double>").alias(self.vec_col),
                sample_order_expr(self.seed, self.id_col).alias("rank_key"),
            )
            .orderBy("rank_key")
            .limit(self.sample_k)
        )

    def _lowest_k(self, df: DataFrame) -> DataFrame:
        """Global lowest-``sample_k`` by md5 rank — the lowest-k of a union
        of per-part lowest-k sets is exactly the global lowest-k of every
        id in them."""
        return (
            df.withColumn("rank_key", sample_order_expr(self.seed, self.id_col))
            .orderBy("rank_key")
            .limit(self.sample_k)
            .drop("rank_key")
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self.store.applied(batch_id):
            return
        sample = self._sample_candidates(batch_df).localCheckpoint(eager=True)
        versions = self._models.versions()
        if not versions:
            # Bootstrap generation 0 from this batch's own sample —
            # deterministic per batch content, write-once commit, so a
            # replay after a crash before the publish finds it present.
            self._train(0, sample)
            versions = [0]
        version = versions[-1]
        cells, books = self.load_model(version)
        enc = ivfpq_encode(
            batch_df, cells, books, vec_col=self.vec_col, id_col=self.id_col
        ).withColumn("model_version", F.lit(version))
        self.store.publish(batch_id, lambda part: self._write(enc, sample, part))

    @staticmethod
    def _write(codes: DataFrame, sample: DataFrame, directory: str) -> None:
        """A part or base: its ``codes`` and ``sample`` leaves."""
        codes.write.parquet(os.path.join(directory, "codes"))
        sample.drop("rank_key").coalesce(1).write.parquet(os.path.join(directory, "sample"))

    # -- read / search ----------------------------------------------------

    def serve(self) -> "DataFrame | None":
        """The index: (id, cell, codes, model_version) — base ⊎ live parts."""
        return self.store.read(leaf="codes")

    def _current_sample(self) -> "DataFrame | None":
        """The training sample over base ⊎ live part samples: the lowest
        ``sample_k`` by md5 rank of every id ever seen."""
        df = self.store.read(leaf="sample")
        return None if df is None else self._lowest_k(df)

    def topk(
        self, queries: DataFrame, k: int = 10, nprobe: int = 4
    ) -> "DataFrame | None":
        """Residual-ADC top-k over every generation: each generation's
        slice is probed with ITS model via the batch ``ivfpq_topk``
        operator (cell equi-join on broadcast probes — no full scan, no
        vectors read), then per-query results merge to a global top-k.
        Cross-generation approx distances come from different quantizers
        — the standard generation-index approximation; ``rebuild()``
        resets to one generation when recall must be uniform."""
        from pyspark.sql import Window as W

        index = self.serve()
        if index is None:
            return None
        frames = []
        for v in sorted(
            r["model_version"]
            for r in index.select("model_version").distinct().collect()
        ):
            cells, books = self.load_model(v)
            frames.append(
                ivfpq_topk(
                    index.filter(F.col("model_version") == v),
                    cells, books, queries, k=k, nprobe=nprobe,
                    vec_col=self.vec_col,
                    query_id_col=self.id_col, corpus_id_col=self.id_col,
                ).select("query_id", "neighbor_id", "approx_d2")
            )
        merged = reduce(DataFrame.unionByName, frames)
        w = W.partitionBy("query_id").orderBy("approx_d2", "neighbor_id")
        return (
            merged.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    # -- maintenance ------------------------------------------------------

    def compact(self, through_batch_id: "int | None" = None) -> None:
        """Fold live parts into a new base version: codes concatenated per
        generation (never re-encoded), samples reduced to the global
        lowest-k."""
        self.store.compact(
            lambda ids, base: self._write(
                self.store.read(ids, "codes"),
                self._lowest_k(self.store.read(ids, "sample")),
                base,
            ),
            through_batch_id,
        )

    def refresh(self) -> int:
        """Centroid/codebook refresh: fold everything live (closing the
        replay window — any pre-refresh batch now watermark-skips), then
        train the next generation from the accumulated sample. New
        batches encode under it; history stays valid under its own
        generations. Returns the new model version."""
        self.compact()
        sample = self._current_sample()
        if sample is None:
            raise ValueError("refresh() before any batch was indexed")
        new_version = self._models.versions()[-1] + 1
        self._train(new_version, sample)
        return new_version

    def rebuild(self, source: DataFrame) -> int:
        """The periodic from-source re-encode (PQ codes are not
        invertible, so this is the ONLY way history changes generation):
        train a fresh model on the source's md5-rank sample, encode the
        FULL source under it, and commit it as the new base — one
        generation, uniform recall. Watermark advances past every
        current part, so replayed pre-rebuild batches are skipped."""
        new_model = (self._models.versions() or [-1])[-1] + 1
        cells, books = self._train(new_model, self._sample_candidates(source))

        codes = ivfpq_encode(
            source, cells, books, vec_col=self.vec_col, id_col=self.id_col
        ).withColumn("model_version", F.lit(new_model))
        self.store.commit_base(
            lambda base: self._write(codes, self._sample_candidates(source), base),
            max([self.store.manifest()[1], *self.store.part_ids()]),
        )
        return new_model
