"""Key-bucketed Parquet state shared by the merge-in-place sinks.

The upsert, SCD2-history, join-view and retract-rollup sinks replace the
ClickHouse ReplacingMergeTree destination the reference provisions
(docker-compose.yml:155-174) with one Parquet table per state, partitioned
on a hash of the key:

    <state_dir>/bucket=N/         rows whose keys hash to N = pmod(hash(keys), n_buckets)
    <state_dir>/_schema/SCHEMA.K  version K of the state's column schema

A micro-batch reads and rewrites only the buckets it touches. The merge
is a pure function of (state ∪ batch), so re-applying a replayed batch
rewrites the same buckets with the same rows: exactly-once effects without
markers (the D-Streams replay argument). ``BucketedState`` is the only code
that knows this layout.

The state records its own schema, so a read plans from one small file
instead of a Spark job over every bucket's Parquet footers. When the new
rows widen it, ``write`` commits (recorded schema ∪ the rows' schema) as
the next ``SCHEMA.K`` through ``WriteOnce``, *before* the data write: a
crash in between leaves a superset schema, which reads as a null column.
``rewrite``'s static overwrite deletes the whole directory, ``_schema/``
included, and commits the record again afterwards. A state dir without a
record (written before records existed, or a crash inside ``rewrite``) is
read with ``mergeSchema``, and its next write records the schema. Spark's
partition discovery skips ``_``-prefixed directories, so the record is
invisible to the Parquet scan.

Every filesystem probe goes through the Hadoop ``FileSystem`` API, never
``os.path``: state may live on HDFS/S3 or under a ``file://`` URI, where a
local-path check reports "no state" and the next dynamic-partition
overwrite replaces the touched buckets with the batch rows alone.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    IntegerType,
    MapType,
    StructField,
    StructType,
)


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


@dataclass
class WriteOnce:
    """Small text files committed once each as ``<directory>/<prefix>K<suffix>``:
    a temp file renamed onto the versioned name, so the first writer of
    version K wins and a reader, taking the highest version, never sees a
    partly written file."""

    spark: SparkSession
    directory: str
    prefix: str
    suffix: str = ""

    def path(self, version: int) -> str:
        return os.path.join(self.directory, f"{self.prefix}{version}{self.suffix}")

    def versions(self) -> list[int]:
        stop = len(self.suffix)
        bodies = [
            name[len(self.prefix): len(name) - stop]
            for name in listing(self.spark, self.directory)
            if name.startswith(self.prefix) and name.endswith(self.suffix)
        ]
        return sorted(int(b) for b in bodies if b.isdigit())

    def read(self, version: int) -> str:
        fs, path = hadoop_fs(self.spark, self.path(version))
        stream = fs.open(path)
        try:
            data = self.spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        finally:
            stream.close()
        return bytes(data).decode()

    def commit(self, version: int, text: str) -> bool:
        """Write ``text`` as version ``version``; False if it already exists."""
        fs, path = hadoop_fs(self.spark, self.path(version))
        tmp = self.spark._jvm.org.apache.hadoop.fs.Path(
            path.getParent(), f"_tmp_{uuid.uuid4().hex}_{path.getName()}"
        )
        out = fs.create(tmp, False)
        try:
            out.write(bytearray(text.encode()))
        finally:
            out.close()
        if fs.rename(tmp, path):
            return True
        fs.delete(tmp, False)
        return False

    def drop_below(self, version: int) -> None:
        for v in self.versions():
            if v < version:
                delete(self.spark, self.path(v))


def merge_types(old: DataType, new: DataType) -> DataType:
    """``old`` ∪ ``new`` as Parquet ``mergeSchema`` unions file schemas:
    ``old``'s fields keep their order, ``new``'s other fields are appended,
    structs nested in structs, arrays and maps merge the same way, and
    everything is nullable (Spark writes Parquet nullable). Differing leaf
    types raise, as ``mergeSchema`` does."""
    if isinstance(old, StructType) and isinstance(new, StructType):
        a = {f.name: f.dataType for f in old.fields}
        b = {f.name: f.dataType for f in new.fields}
        return StructType([
            StructField(n, merge_types(a.get(n, b.get(n)), b.get(n, a.get(n))))
            for n in dict.fromkeys([*a, *b])
        ])
    if isinstance(old, ArrayType) and isinstance(new, ArrayType):
        return ArrayType(merge_types(old.elementType, new.elementType))
    if isinstance(old, MapType) and isinstance(new, MapType):
        return MapType(
            merge_types(old.keyType, new.keyType),
            merge_types(old.valueType, new.valueType),
        )
    if old != new:
        raise ValueError(
            f"cannot merge {old.simpleString()} with {new.simpleString()}"
        )
    return old


_BUCKET = StructField("bucket", IntegerType())


def _data_fields(schema: StructType) -> StructType:
    return StructType([f for f in schema.fields if f.name != _BUCKET.name])


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
        self._schemas = WriteOnce(spark, os.path.join(state_dir, "_schema"), "SCHEMA.")

    def bucket(self, df: DataFrame) -> DataFrame:
        """``df`` with its ``bucket`` column."""
        return df.withColumn(
            "bucket", F.pmod(F.hash(*self.keys), F.lit(self.n_buckets))
        )

    def exists(self) -> bool:
        return probe(self.spark, self.state_dir, "bucket=*")

    def recorded_schema(self) -> StructType | None:
        """The data columns of the highest ``SCHEMA.K``; None without one."""
        versions = self._schemas.versions()
        if not versions:
            return None
        return StructType.fromJson(json.loads(self._schemas.read(versions[-1])))

    def read(self, buckets: list[int] | None = None) -> DataFrame | None:
        """All buckets, or only ``buckets``; None while no state exists.

        Buckets written before a column was added read it as null (D5):
        the recorded schema covers every file."""
        if not self.exists():
            return None
        schema = self.recorded_schema()
        if schema is None:
            # No record yet: infer the union from every file footer.
            reader = self.spark.read.option("mergeSchema", "true")
        else:
            reader = self.spark.read.schema(StructType([*schema.fields, _BUCKET]))
        state = reader.parquet(self.state_dir)
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
        recorded = known = self.recorded_schema()
        if known is None:
            state = self.read()
            known = StructType() if state is None else _data_fields(state.schema)
        merged = merge_types(known, _data_fields(df.schema))
        if merged != recorded:
            self._record(merged)
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

    def _record(self, schema: StructType) -> None:
        versions = self._schemas.versions()
        version = versions[-1] + 1 if versions else 0
        if not self._schemas.commit(version, schema.json()):
            raise RuntimeError(f"{self.state_dir}: schema version {version} already committed")

    def rewrite(self, keep: Column) -> None:
        """Whole-table compaction: keep only the rows matching ``keep``.

        The kept rows go to a sibling temp directory first: the STATIC
        overwrite deletes the state before its job runs, so it must not
        read the state it replaces. Static, because a dynamic overwrite
        would leave a bucket untouched when none of its rows is kept. The
        overwrite also deletes the schema record, which is then committed
        again.
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
        self._record(_data_fields(state.schema))
        delete(self.spark, tmp)
