"""The parts-and-manifest commit protocol shared by the additive sinks, and
the one way every foreachBatch sink starts its stream.

ClickHouse keeps aggregated state as MergeTree parts: each insert writes a
new immutable part, SELECT merges the parts at read time, and a background
merge folds parts together (reference docker-compose.yml:155-174).
D-Streams (SOSP 2013) supplies the exactly-once argument: a micro-batch's
content is a deterministic function of its checkpointed offsets, so batch
N's effect can be published once under the name N and a replay of N finds
it there. ``PartStore`` is that model over one local directory:

    <root>/parts/batch=N/   the immutable part of micro-batch N
    <root>/base_vK/         the compacted base, version K
    <root>/MANIFEST         one line "K watermark": parts <= watermark are in base_vK

- **Publish once.** A part is written into a staging directory and renamed
  to ``batch=N`` in one ``os.rename``, so it appears whole or not at all.
  ``applied(N)`` holds once the part exists or N is at or below the
  watermark; a sink skips an applied batch, so a replay never double-counts
  and no marker file is needed.
- **Merge at read.** ``read`` unions the base with the requested parts.
- **Compaction.** ``compact`` writes a new base version from the old base
  and the parts it folds, commits it by atomically replacing the manifest,
  then garbage-collects. Before the commit the old manifest still names a
  complete base; after it the folded parts and old bases are ignored
  garbage. Every crash point leaves a consistent view, and re-running
  rebuilds the same base from the same inputs.

The store uses the local filesystem (``os``), like every stateful sink
here; a remote directory would need a remote-safe manifest commit.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

_PART = "batch="
_STAGING = "_staging_"


def start_foreach_batch(
    df: DataFrame, fn, checkpoint_dir: str, **trigger_kwargs
) -> StreamingQuery:
    """Run ``fn(batch_df, batch_id)`` over every micro-batch of ``df``,
    with offsets checkpointed at ``checkpoint_dir``. The default trigger
    drains what is available and stops."""
    return (
        df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(**(trigger_kwargs or {"availableNow": True}))
        .start()
    )


class PartStore:
    def __init__(self, root: str):
        self.root = root
        self.parts_dir = os.path.join(root, "parts")
        self.manifest_path = os.path.join(root, "MANIFEST")

    # -- manifest ---------------------------------------------------------

    def manifest(self) -> tuple[int, int]:
        """(base_version, watermark); (-1, -1) before the first compaction."""
        try:
            with open(self.manifest_path) as fh:
                v, wm = fh.read().split()
                return int(v), int(wm)
        except FileNotFoundError:
            return -1, -1

    def commit_manifest(self, version: int, watermark: int) -> None:
        tmp = f"{self.manifest_path}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            fh.write(f"{version} {watermark}")
        os.replace(tmp, self.manifest_path)

    # -- parts ------------------------------------------------------------

    def base_dir(self, version: int) -> str:
        return os.path.join(self.root, f"base_v{version}")

    def part_dir(self, batch_id: int) -> str:
        return os.path.join(self.parts_dir, f"{_PART}{batch_id}")

    def part_ids(self) -> list[int]:
        if not os.path.isdir(self.parts_dir):
            return []
        return sorted(
            int(name[len(_PART):])
            for name in os.listdir(self.parts_dir)
            if name.startswith(_PART)
        )

    def live_part_ids(self) -> list[int]:
        _, wm = self.manifest()
        return [i for i in self.part_ids() if i > wm]

    def applied(self, batch_id: int) -> bool:
        """Batch ``batch_id``'s effect is already stored: folded into the
        base, or published as a part."""
        return batch_id <= self.manifest()[1] or os.path.isdir(self.part_dir(batch_id))

    def publish(self, batch_id: int, write: Callable[[str], None]) -> None:
        """``write(dir)`` the part into a staging directory, then rename it
        to ``batch=N``: the part appears whole or not at all."""
        stage = os.path.join(self.parts_dir, f"{_STAGING}{batch_id}.{os.getpid()}")
        shutil.rmtree(stage, ignore_errors=True)
        write(stage)
        os.rename(stage, self.part_dir(batch_id))

    def read(
        self, spark: SparkSession, part_ids: list[int] | None = None, leaf: str = ""
    ) -> DataFrame | None:
        """Base ⊎ the given parts (default: the live ones), or their ``leaf``
        subdirectory if set; None while the store is empty."""
        version, _ = self.manifest()
        if part_ids is None:
            part_ids = self.live_part_ids()
        dirs = [self.part_dir(i) for i in part_ids]
        if version >= 0:
            dirs.insert(0, self.base_dir(version))
        if not dirs:
            return None
        return spark.read.parquet(*[os.path.join(d, leaf) if leaf else d for d in dirs])

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
        shutil.rmtree(base, ignore_errors=True)  # a crashed earlier attempt
        write(base)
        self.commit_manifest(new_version, watermark)
        self.gc(new_version, watermark)

    def gc(self, live_version: int, watermark: int) -> None:
        """Remove folded parts, superseded bases and the staging leftovers of
        folded batches (best-effort: anything missed is swept next time).
        A live batch's staging directory may be in flight and is kept."""
        if not os.path.isdir(self.root):
            return
        garbage = [self.part_dir(i) for i in self.part_ids() if i <= watermark]
        if os.path.isdir(self.parts_dir):
            garbage += [
                os.path.join(self.parts_dir, name)
                for name in os.listdir(self.parts_dir)
                if name.startswith(_STAGING)
                and int(name[len(_STAGING):].split(".")[0]) <= watermark
            ]
        garbage += [
            os.path.join(self.root, name)
            for name in os.listdir(self.root)
            if name.startswith("base_v") and name != f"base_v{live_version}"
        ]
        for path in garbage:
            shutil.rmtree(path, ignore_errors=True)
