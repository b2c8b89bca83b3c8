"""The parts-and-manifest commit protocol shared by the additive sinks, and
the one way every foreachBatch sink starts its stream.

ClickHouse keeps aggregated state as MergeTree parts: each insert writes a
new immutable part, SELECT merges the parts at read time, and a background
merge folds parts together (reference docker-compose.yml:155-174).
D-Streams (SOSP 2013) supplies the exactly-once argument: a micro-batch's
content is a deterministic function of its checkpointed offsets, so batch
N's effect can be published once under the name N and a replay of N finds
it there. ``PartStore`` is that model over one directory:

    <root>/parts/batch=N/   the immutable part of micro-batch N
    <root>/base_vK/         the compacted base, version K
    <root>/MANIFEST.K       "watermark": parts <= watermark are in base_vK

- **Publish once.** A part is written into a staging directory and renamed
  to ``batch=N`` in one rename, so it appears whole or not at all.
  ``applied(N)`` holds once the part exists or N is at or below the
  watermark; a sink skips an applied batch, so a replay never double-counts
  and no marker file is needed.
- **Merge at read.** ``read`` unions the base with the requested parts.
- **Compaction.** ``compact`` writes a new base version from the old base
  and the parts it folds, commits it as the next manifest version, then
  garbage-collects. Before the commit the highest manifest still names a
  complete base; after it the folded parts, old bases and old manifests
  are ignored garbage. Every crash point leaves a consistent view, and
  re-running rebuilds the same base from the same inputs.

Every filesystem call goes through the Hadoop ``FileSystem`` API
(``buckets.hadoop_fs``), so the store works on a plain path, a ``file://``
URI or a remote directory. Two Hadoop behaviours shape the code: renaming
a file onto an existing file returns False, which ``buckets.WriteOnce``
(the manifest's commit) uses as its first-writer-wins commit; renaming a
directory onto an existing directory succeeds and nests the source inside
it, so ``publish`` never renames onto a published part.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from .buckets import WriteOnce, delete, hadoop_fs, listing

_PART = "batch="
_STAGING = "_staging_"


def start_foreach_batch(
    df: DataFrame, fn, checkpoint_dir: str, **trigger_kwargs
) -> StreamingQuery:
    """Run ``fn(batch_df, batch_id)`` over every micro-batch of ``df``,
    with offsets checkpointed at ``checkpoint_dir``. The default trigger
    drains what is available and stops.

    ``batch_df`` is persisted while ``fn`` runs. A sink runs several actions
    on it (the touched-bucket collect, then the merge write), and each action
    would otherwise re-run the source scan and any stateful operator above it
    (the CDC pipeline's watermark dedup). D-Streams treats a micro-batch as
    one deterministic dataset, computed once and shared by the operators that
    read it; the Spark foreachBatch guide persists the batch for the same
    reason."""

    def once(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            fn(batch_df, batch_id)
        finally:
            batch_df.unpersist(blocking=False)

    return (
        df.writeStream.foreachBatch(once)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(**(trigger_kwargs or {"availableNow": True}))
        .start()
    )


class ForeachBatchSink:
    """Base of the sinks whose ``process_batch(batch_df, batch_id)`` applies
    one micro-batch; ``attach`` runs it over every batch of a stream."""

    def attach(self, stream: DataFrame, checkpoint_dir: str, **trigger_kwargs) -> StreamingQuery:
        return start_foreach_batch(stream, self.process_batch, checkpoint_dir, **trigger_kwargs)


def _batch_of(name: str) -> int | None:
    """N of a part ``batch=N`` or a staging ``_staging_N.<id>`` directory."""
    for prefix in (_PART, _STAGING):
        if name.startswith(prefix):
            return int(name[len(prefix):].split(".")[0])
    return None


class PartStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.parts_dir = os.path.join(root, "parts")
        self._manifests = WriteOnce(spark, root, "MANIFEST.")

    # -- manifest ---------------------------------------------------------

    def manifest(self) -> tuple[int, int]:
        """(base_version, watermark); (-1, -1) before the first compaction."""
        versions = self._manifests.versions()
        if not versions:
            return -1, -1
        return versions[-1], int(self._manifests.read(versions[-1]))

    def commit_manifest(self, version: int, watermark: int) -> None:
        if not self._manifests.commit(version, str(watermark)):
            raise RuntimeError(f"{self.root}: manifest version {version} already committed")

    # -- parts ------------------------------------------------------------

    def base_dir(self, version: int) -> str:
        return os.path.join(self.root, f"base_v{version}")

    def part_dir(self, batch_id: int) -> str:
        return os.path.join(self.parts_dir, f"{_PART}{batch_id}")

    def part_ids(self) -> list[int]:
        return sorted(
            _batch_of(name) for name in listing(self.spark, self.parts_dir)
            if name.startswith(_PART)
        )

    def applied(self, batch_id: int) -> bool:
        """Batch ``batch_id``'s effect is already stored: folded into the
        base, or published as a part."""
        if batch_id <= self.manifest()[1]:
            return True
        fs, part = hadoop_fs(self.spark, self.part_dir(batch_id))
        return fs.exists(part)

    def publish(self, batch_id: int, write: Callable[[str], None]) -> None:
        """``write(dir)`` the part into a staging directory, then rename it
        to ``batch=N``: the part appears whole or not at all."""
        stage = os.path.join(self.parts_dir, f"{_STAGING}{batch_id}.{uuid.uuid4().hex}")
        write(stage)
        fs, src = hadoop_fs(self.spark, stage)
        _, dst = hadoop_fs(self.spark, self.part_dir(batch_id))
        if fs.exists(dst):
            # Published meanwhile with the same content; a rename onto it
            # would nest the staging directory inside the part.
            fs.delete(src, True)
        elif not fs.rename(src, dst):
            raise RuntimeError(f"could not publish {stage} as {dst}")

    def read(self, part_ids: list[int] | None = None, leaf: str = "") -> DataFrame | None:
        """Base ⊎ the given parts (default: the live ones), or their ``leaf``
        subdirectory if set; None while the store is empty."""
        version, wm = self.manifest()
        if part_ids is None:
            part_ids = [i for i in self.part_ids() if i > wm]
        dirs = [self.part_dir(i) for i in part_ids]
        if version >= 0:
            dirs.insert(0, self.base_dir(version))
        if not dirs:
            return None
        dirs = [os.path.join(d, leaf) if leaf else d for d in dirs]
        # One scan per directory: Spark's partition discovery rejects several
        # root paths that are each partitioned (a partitionBy-written part).
        first = self.spark.read.parquet(dirs[0])
        reader = self.spark.read.schema(first.schema)
        return reduce(DataFrame.unionByName, [reader.parquet(d) for d in dirs[1:]], first)

    # -- compaction -------------------------------------------------------

    def compact(
        self,
        write_base: Callable[[list[int], str], None],
        through_batch_id: int | None = None,
    ) -> None:
        """Fold live parts <= ``through_batch_id`` (default: all) into a new
        base: ``write_base(ids, dir)`` writes it from ``read(ids)``."""
        version, wm = self.manifest()
        ids = [
            i for i in self.part_ids()
            if i > wm and (through_batch_id is None or i <= through_batch_id)
        ]
        if not ids:
            self.gc(version, wm)
            return
        self.commit_base(lambda d: write_base(ids, d), max(ids))

    def commit_base(self, write: Callable[[str], None], watermark: int) -> None:
        """``write(dir)`` the next base version, commit it with
        ``watermark``, then garbage-collect."""
        new_version = self.manifest()[0] + 1
        base = self.base_dir(new_version)
        delete(self.spark, base)  # a crashed earlier attempt
        write(base)
        self.commit_manifest(new_version, watermark)
        self.gc(new_version, watermark)

    def gc(self, live_version: int, watermark: int) -> None:
        """Remove folded parts, superseded bases and manifests, and the
        staging leftovers of folded batches (best-effort: anything missed
        is swept next time). A live batch's staging directory may be in
        flight and is kept."""
        garbage = [
            os.path.join(self.parts_dir, name)
            for name in listing(self.spark, self.parts_dir)
            if (batch := _batch_of(name)) is not None and batch <= watermark
        ]
        garbage += [
            os.path.join(self.root, name)
            for name in listing(self.spark, self.root)
            if name.startswith("base_v") and name != f"base_v{live_version}"
        ]
        for path in garbage:
            delete(self.spark, path)
        self._manifests.drop_below(live_version)
