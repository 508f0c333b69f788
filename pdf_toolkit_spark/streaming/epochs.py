"""Epoch sinks: the on-disk contract every streaming operator keeps.

A ``foreachBatch`` body writes its micro-batch output into one
directory per epoch under a root, with mode=overwrite, so a replayed
epoch (failure after the write, before the checkpoint commit) rewrites
its own directory instead of appending duplicates. Cross-batch state is
read from the epochs STRICTLY BELOW the current one, so a replay never
merges its own output on top of itself. Two kinds of root share the
layout:

- log roots (``docs``, ``hashes``, ``buckets``, ``cells``, ``pq``,
  ``sem``, ``vectors``, ``packed``, ``tiers``, ``counts``): each epoch
  holds only that batch's rows; the committed output is their union;
- snapshot roots (``state``, ``boiler_state``): each epoch holds the
  full merged state; the committed output is the newest epoch.

This module is the only place that knows the directory format.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ..errors import UserError


def epoch_dir(root: str, epoch_id: int) -> str:
    """The directory of ``epoch_id`` under ``root``."""

    return f"{root}/epoch={epoch_id:012d}"


def _epoch_no(path: str) -> int:
    return int(path.rsplit("=", 1)[1])


def epochs_before(root: str, epoch_id: Optional[int] = None) -> list[str]:
    """Committed epoch directories under ``root``, sorted by epoch
    number, strictly below ``epoch_id`` (all of them when ``None``)."""

    dirs = sorted(glob.glob(f"{root}/epoch=*"), key=_epoch_no)
    if epoch_id is None:
        return dirs
    return [d for d in dirs if _epoch_no(d) < epoch_id]


def _read(spark: SparkSession, dirs: list[str], latest: bool) -> DataFrame:
    # leaf directories as paths: no ``epoch`` partition column appears
    return spark.read.parquet(dirs[-1]) if latest else spark.read.parquet(*dirs)


def read_before(
    spark: SparkSession, root: str, epoch_id: int, latest: bool = False
) -> Optional[DataFrame]:
    """The committed state a batch at ``epoch_id`` merges with: the
    union of the earlier epochs of a log root, or the newest earlier
    epoch of a snapshot root (``latest=True``). ``None`` when nothing
    was committed before ``epoch_id``."""

    dirs = epochs_before(root, epoch_id)
    return _read(spark, dirs, latest) if dirs else None


def write_epoch(df: DataFrame, root: str, epoch_id: int) -> None:
    """Write one batch's output as epoch ``epoch_id`` of ``root``;
    mode=overwrite makes a replay rewrite, never append."""

    df.write.mode("overwrite").parquet(epoch_dir(root, epoch_id))


def read_committed(
    spark: SparkSession, root: str, operator: str, latest: bool = False
) -> DataFrame:
    """Everything ``operator`` committed under ``root``: the union of a
    log root's epochs, or the newest epoch of a snapshot root
    (``latest=True``). Raises UserError when no epoch is committed."""

    dirs = epochs_before(root)
    if not dirs:
        raise UserError(f"{operator}: no committed epochs yet.")
    return _read(spark, dirs, latest)


def compact_epochs(spark: SparkSession, root: str, target_files: int = 8) -> int:
    """Merge every committed epoch directory under ``root`` except the
    newest into the second-newest, rewritten as ``target_files``
    parquet files. The streaming sinks append one directory per
    micro-batch; at fleet scale that is the classic small-files problem
    (a year of 5-minute triggers is ~100k directories whose listing
    alone dominates query planning). Run this between stream restarts.

    The newest epoch is left out because it is the only one a
    ``foreachBatch`` replay can rewrite: its strictly-below read must
    still find the full history, which now sits in the second-newest
    directory. Merging the newest too would fold the history into the
    replayed directory, and the replay would overwrite it. The merged
    directory keeps its epoch id, so later epochs sort after it and
    readers see identical rows.

    Compaction is for log roots (``docs``, ``hashes``, ``buckets``,
    ``cells``, ``pq``, ``sem``, ``vectors``, ``packed``, ``tiers``,
    ``counts``). A snapshot root (``state``, ``boiler_state``) holds
    one full state per epoch, and merging its epochs unions those
    states; nothing here enforces that rule.

    Crash-safe swap: the merged copy lands in a sibling
    ``.compacting`` directory with a ``_compaction_inputs.json``
    manifest (underscore-prefixed, so parquet readers ignore it)
    before any input is removed, and the manifest RIDES INSIDE the
    directory through the rename — the compacted copy is never on
    disk without its manifest, so every crash point is recoverable:
    a crash before the manifest discards the partial copy; a crash
    mid-swap re-runs the input removals (idempotent) and the rename;
    a crash after the rename but before the in-place manifest removal
    leaves a committed epoch dir whose stray manifest the next call
    finishes deleting. Returns the number of epoch directories
    compacted (0 = nothing to do: fewer than three epochs)."""

    tmp = f"{root}.compacting"
    manifest = f"{tmp}/_compaction_inputs.json"

    def _swap() -> int:
        inputs = json.load(open(manifest))
        target = inputs[-1]
        for d in inputs:
            if os.path.isdir(d):
                shutil.rmtree(d)
        os.rename(tmp, target)
        os.remove(f"{target}/_compaction_inputs.json")
        return len(inputs)

    if os.path.isdir(tmp):
        if os.path.exists(manifest):  # recover an interrupted swap
            return _swap()
        shutil.rmtree(tmp)  # interrupted BEFORE the manifest: discard
    # crash AFTER the rename, BEFORE the manifest removal: the swap is
    # complete (all inputs gone); finish by clearing the stray
    # manifest so it never reads as this compaction's input list
    for m in glob.glob(f"{root}/epoch=*/_compaction_inputs.json"):
        for d in json.load(open(m)):
            if d != os.path.dirname(m) and os.path.isdir(d):
                shutil.rmtree(d)
        os.remove(m)

    dirs = epochs_before(root)[:-1]
    if len(dirs) < 2:
        return 0
    merged = _read(spark, dirs, latest=False).coalesce(target_files)
    merged.write.mode("overwrite").parquet(tmp)
    with open(manifest, "w") as fh:
        json.dump(dirs, fh)
    return _swap()
