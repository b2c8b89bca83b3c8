"""Key-bucketed Parquet state shared by the merge-in-place sinks.

The upsert, SCD2-history, join-view and retract-rollup sinks replace the
ClickHouse ReplacingMergeTree destination the reference provisions
(docker-compose.yml:155-174) with one Parquet table per state, partitioned
on a hash of the key:

    <state_dir>/bucket=N/   rows whose keys hash to N = pmod(hash(keys), n_buckets)

A micro-batch reads and rewrites only the buckets it touches. The merge
is a pure function of (state ∪ batch), so re-applying a replayed batch
rewrites the same buckets with the same rows: exactly-once effects without
markers (the D-Streams replay argument). ``BucketedState`` is the only code
that knows this layout.

Every filesystem probe goes through the Hadoop ``FileSystem`` API, never
``os.path``: state may live on HDFS/S3 or under a ``file://`` URI, where a
local-path check reports "no state" and the next dynamic-partition
overwrite replaces the touched buckets with the batch rows alone.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop ``FileSystem``, ``Path``) for ``path``; any URI scheme."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def probe(spark: SparkSession, directory: str, pattern: str) -> bool:
    """True when an entry of ``directory`` matches the Hadoop glob
    ``pattern``; False also when ``directory`` does not exist."""
    fs, path = hadoop_fs(spark, f"{directory.rstrip('/')}/{pattern}")
    found = fs.globStatus(path)
    return found is not None and len(found) > 0


def listing(spark: SparkSession, directory: str) -> list[str]:
    """Entry names of ``directory``; [] when it does not exist."""
    fs, path = hadoop_fs(spark, directory)
    if not fs.exists(path):
        return []
    return [status.getPath().getName() for status in fs.listStatus(path)]


def delete(spark: SparkSession, path: str) -> None:
    """Remove ``path`` recursively; a missing path is no error."""
    fs, jpath = hadoop_fs(spark, path)
    fs.delete(jpath, True)


class BucketedState:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        keys: Sequence[str],
        n_buckets: int,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.keys = list(keys)
        self.n_buckets = n_buckets

    def bucket(self, df: DataFrame) -> DataFrame:
        """``df`` with its ``bucket`` column."""
        return df.withColumn(
            "bucket", F.pmod(F.hash(*self.keys), F.lit(self.n_buckets))
        )

    def exists(self) -> bool:
        return probe(self.spark, self.state_dir, "bucket=*")

    def read(self, buckets: list[int] | None = None) -> DataFrame | None:
        """All buckets, or only ``buckets``; None while no state exists."""
        if not self.exists():
            return None
        # mergeSchema: schema-evolution tolerance (D5) — buckets written
        # before a source column was added still read cleanly (nulls).
        state = self.spark.read.option("mergeSchema", "true").parquet(self.state_dir)
        return state if buckets is None else state.filter(F.col("bucket").isin(buckets))

    def touched(
        self, batch: DataFrame
    ) -> tuple[DataFrame, list[int], DataFrame | None]:
        """(bucketed ``batch``, the buckets it touches, the stored rows of
        those buckets or None)."""
        batch = self.bucket(batch)
        buckets = [r["bucket"] for r in batch.select("bucket").distinct().collect()]
        return batch, buckets, self.read(buckets) if buckets else None

    def write(self, df: DataFrame) -> None:
        """Replace the buckets present in ``df`` (which carries ``bucket``)."""
        # Dynamic partition overwrite: only those buckets are replaced, and
        # only after the job computed them, so ``df`` may read them. A
        # per-write option, not the session conf — mutating the session
        # would change overwrite semantics for unrelated writes.
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(self.state_dir)
        )

    def rewrite(self, keep: Column) -> None:
        """Whole-table compaction: keep only the rows matching ``keep``.

        The kept rows go to a sibling temp directory first: the STATIC
        overwrite deletes the state before its job runs, so it must not
        read the state it replaces. Static, because a dynamic overwrite
        would leave a bucket untouched when none of its rows is kept.
        """
        state = self.read()
        if state is None:
            return
        tmp = self.state_dir.rstrip("/") + ".compact.tmp"
        state.filter(keep).write.mode("overwrite").partitionBy("bucket").parquet(tmp)
        (
            self.spark.read.schema(state.schema).parquet(tmp)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "static")
            .partitionBy("bucket")
            .parquet(self.state_dir)
        )
        delete(self.spark, tmp)
