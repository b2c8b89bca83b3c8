"""Online near-duplicate suppression: streaming MinHash with
first-accepted-wins semantics (T6 × X2).

Batch near-dedup (operators/dedup.py) answers "which pairs are near-dups"
over a frozen corpus. A growing corpus wants the *online* form: as
documents arrive, keep the first copy of each near-duplicate family and
suppress later arrivals — the continuous-ingestion analogue of
cluster-representative dedup, and the standard shape of production
streaming dedup systems (state = an LSH index of everything accepted so
far).

Per micro-batch:
1. New docs are MinHash-signed (portable md5-int hashes — same code path
   as the batch operator, so stream and batch agree bit-for-bit).
2. Candidates against the ACCEPTED state via the banded LSH index:
   equi-join on (band, bucket) — linear in batch size, never a scan of
   the accepted corpus.
3. Similarity is the signature agreement estimate (fraction of equal
   minhash values): the state stores one constant-size signature per doc,
   never shingle sets — at 100 TB the index is h longs + b band keys per
   document regardless of document size.
4. Within-batch ties resolve by the same greedy order the one-shot batch
   run would use (doc_id ascending; accept unless similar to an
   already-accepted doc). The greedy chain is inherently sequential, so
   it runs driver-side on the batch's candidate EDGES — bounded by
   near-dup pairs inside one micro-batch, not by batch or corpus size.
5. Accepted docs append their band entries + signature to the state
   index; suppressed docs append to an audit log with their duplicate's
   id and the similarity estimate.

Determinism / replay: a redelivered accepted doc is dropped by an
anti-join on the state (idempotent); a redelivered suppressed doc is
re-suppressed by the same accepted doc (state only grows, and first-wins
means earlier docs never lose). Chunked replay therefore reproduces the
one-shot greedy exactly — asserted in tests/test_streaming_neardup.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators.textstats import portable_hash32, tokens
from .buckets import probe
from .parts import ForeachBatchSink


def _signatures(docs: DataFrame, n_hashes: int, shingle: int, id_col: str, text_col: str) -> DataFrame:
    """(doc, mh_0..mh_{h-1}, sig array) — one md5 pass over distinct
    shingles, arithmetic permutations (identical to the batch operator)."""
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.array_distinct(D.shingles(text_col, shingle=shingle)).alias("toks"),
    )
    hashed = toks.select("doc", F.transform("toks", portable_hash32).alias("_sh"))
    sig = hashed.select("doc", *D.minhash_signature(n_hashes))
    return sig.withColumn("sig", F.array(*[F.col(f"mh_{i}") for i in range(n_hashes)]))


def _est_sim(a: str, b: str, n_hashes: int):
    """Signature-agreement Jaccard estimate: |{i: a_i = b_i}| / h."""
    eq = F.zip_with(F.col(a), F.col(b), lambda x, y: (x == y).cast("int"))
    return F.aggregate(eq, F.lit(0), lambda acc, x: acc + x).cast("double") / F.lit(
        float(n_hashes)
    )


def greedy_suppress(edges: list[tuple[int, int]], candidates: list[int]) -> set[int]:
    """Reference greedy: scan ids ascending; suppress a doc iff it has an
    edge to an already-ACCEPTED smaller doc (chain a-b-c with a~b, b~c,
    a≁c keeps a AND c — component-min would wrongly drop c). Pure Python
    on the edge list; used both by the batch reference in tests and for
    the within-batch step of the streaming filter."""
    nbrs: dict[int, set[int]] = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    accepted: set[int] = set()
    suppressed: set[int] = set()
    for d in sorted(candidates):
        if any(n in accepted for n in nbrs.get(d, ())):
            suppressed.add(d)
        else:
            accepted.add(d)
    return suppressed


class StreamingNearDupFilter(ForeachBatchSink):
    """foreachBatch sink maintaining an accepted-corpus LSH index.

    State layout (all append-only Parquet — no rewrites, so a micro-batch
    costs O(batch), never O(state)):
      state_dir/sigs   — (doc, sig array<bigint>)          [the index keys]
      state_dir/bands  — (doc, band, bucket)               [the LSH index]
      state_dir/log    — (doc, dup_of, est_jaccard)        [suppression audit]
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        threshold: float = 0.6,
        n_hashes: int = 16,
        n_bands: int = 8,
        shingle: int = 3,
        id_col: str = "doc_id",
        text_col: str = "text",
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.threshold = threshold
        self.n_hashes = n_hashes
        self.n_bands = n_bands
        self.shingle = shingle
        self.id_col = id_col
        self.text_col = text_col

    # -- state access -------------------------------------------------------

    def _read(self, sub: str) -> DataFrame | None:
        path = os.path.join(self.state_dir, sub)
        if not probe(self.spark, path, "*.parquet"):
            return None
        return self.spark.read.parquet(path)

    def _append(self, df: DataFrame, sub: str) -> None:
        df.write.mode("append").parquet(os.path.join(self.state_dir, sub))

    def accepted_ids(self) -> DataFrame | None:
        sigs = self._read("sigs")
        return None if sigs is None else sigs.select("doc")

    def suppression_log(self) -> DataFrame | None:
        """Audit log; redelivered suppressed docs append duplicate rows, so
        read through dropDuplicates (append-only state, dedup at read)."""
        log = self._read("log")
        return None if log is None else log.dropDuplicates(["doc"])

    # -- the merge ----------------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        new = batch_df.select(
            F.col(self.id_col).alias("doc"), F.col(self.text_col).alias(self.text_col)
        ).dropDuplicates(["doc"])
        seen = self.accepted_ids()
        if seen is not None:
            # Redelivery idempotence: an accepted doc is dropped here; a
            # previously-suppressed doc re-runs against a state that still
            # contains its (earlier-id) duplicate and is re-suppressed.
            new = new.join(seen, "doc", "left_anti")
        if new.limit(1).count() == 0:
            return  # pure redelivery of accepted docs — nothing to do

        sig = _signatures(
            new, self.n_hashes, self.shingle, "doc", self.text_col
        ).persist()  # feeds bands, the state join, and the self join
        bands = D.minhash_bands(sig, self.n_hashes, self.n_bands).persist()
        try:
            self._admit(sig, bands)
        finally:
            sig.unpersist()
            bands.unpersist()

    def _admit(self, sig: DataFrame, bands: DataFrame) -> None:
        """Suppress the batch's near-duplicates of the accepted state and of
        each other, then append the accepted rest and the audit log."""
        # 1) against accepted state: suppressed by any similar-enough doc.
        state_bands, state_sigs = self._read("bands"), self._read("sigs")
        from_state: DataFrame | None = None
        if state_bands is not None:
            cand = (
                bands.join(
                    state_bands.select(
                        F.col("doc").alias("dup_of"), "band", "bucket"
                    ),
                    ["band", "bucket"],
                )
                .select("doc", "dup_of")
                .distinct()
            )
            scored = (
                cand.join(sig.select("doc", F.col("sig").alias("sig_a")), "doc")
                .join(
                    state_sigs.select(
                        F.col("doc").alias("dup_of"), F.col("sig").alias("sig_b")
                    ),
                    "dup_of",
                )
                .withColumn("est_jaccard", _est_sim("sig_a", "sig_b", self.n_hashes))
                .filter(F.col("est_jaccard") >= self.threshold)
            )
            # Deterministic attribution: the smallest similar accepted doc
            # (and the estimate against that specific doc).
            from_state = scored.groupBy("doc").agg(
                F.min("dup_of").alias("dup_of"),
                F.min_by("est_jaccard", "dup_of").alias("est_jaccard"),
            )

        state_suppressed = (
            {r["doc"]: (r["dup_of"], r["est_jaccard"]) for r in from_state.collect()}
            if from_state is not None
            else {}
        )
        survivors = sig.filter(
            ~F.col("doc").isin(list(state_suppressed)) if state_suppressed else F.lit(True)
        )

        # 2) within-batch greedy on the candidate EDGES (bounded by the
        # batch's own near-dup pair count — the sequential chain cannot be
        # parallelized without changing the accepted set).
        surv_bands = bands.join(survivors.select("doc"), "doc")
        left = surv_bands.select(F.col("doc").alias("a"), "band", "bucket")
        right = surv_bands.select(F.col("doc").alias("b"), "band", "bucket")
        pair_edges = (
            left.join(right, ["band", "bucket"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
            .join(survivors.select(F.col("doc").alias("a"), F.col("sig").alias("sig_a")), "a")
            .join(survivors.select(F.col("doc").alias("b"), F.col("sig").alias("sig_b")), "b")
            .withColumn("est_jaccard", _est_sim("sig_a", "sig_b", self.n_hashes))
            .filter(F.col("est_jaccard") >= self.threshold)
            .select("a", "b", "est_jaccard")
            .collect()
        )
        batch_candidate_ids = [r["doc"] for r in survivors.select("doc").collect()]
        batch_suppressed = greedy_suppress(
            [(r["a"], r["b"]) for r in pair_edges], batch_candidate_ids
        )
        est_by_pair = {(r["a"], r["b"]): r["est_jaccard"] for r in pair_edges}

        accepted = survivors.filter(
            ~F.col("doc").isin(list(batch_suppressed)) if batch_suppressed else F.lit(True)
        )

        # 3) append state + audit log. ORDER MATTERS: `accepted` descends
        # from the anti-join against the sigs state path, and Spark's
        # post-write refresh re-caches plans that reference a just-written
        # path — so once sigs is appended, any re-evaluation of this
        # lineage anti-joins against the GROWN state and yields zero rows
        # (the whole batch now looks "already seen"). Writing bands first
        # and sigs last means every evaluation in this batch runs against
        # the pre-batch sigs state; caught by
        # test_chunked_replay_equals_one_shot_greedy when the order was
        # sigs-then-bands (bands state silently stopped growing).
        self._append(D.minhash_bands(accepted, self.n_hashes, self.n_bands), "bands")
        self._append(accepted.select("doc", "sig"), "sigs")
        log_rows = [
            (doc, dup_of, float(est)) for doc, (dup_of, est) in state_suppressed.items()
        ]
        for d in sorted(batch_suppressed):
            # attribute to the smallest accepted within-batch neighbor
            partners = [
                (a if b == d else b, est)
                for (a, b), est in est_by_pair.items()
                if (a == d or b == d)
                and (a if b == d else b) not in batch_suppressed
                and (a if b == d else b) not in state_suppressed
            ]
            if partners:
                dup_of, est = min(partners)
                log_rows.append((d, dup_of, float(est)))
        if log_rows:
            self._append(
                self.spark.createDataFrame(
                    log_rows, "doc bigint, dup_of bigint, est_jaccard double"
                ),
                "log",
            )
