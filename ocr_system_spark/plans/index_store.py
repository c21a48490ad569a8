"""Versioned, atomically-published store for the MinHash signature index.

The incremental dedup loop (operators/dedup.incremental_minhash_pairs +
update_minhash_index) needs its state relation persisted BETWEEN batches
with two properties a bare ``df.write.parquet(path)`` does not give:

* **atomic publish** — a reader (the next batch's job, possibly on another
  cluster) must never observe a half-written index. Each version is
  written to its own directory ``v{N:08d}`` and only becomes current when
  the tiny ``_LATEST`` pointer file is atomically replaced (os.replace on
  a same-directory temp file — POSIX-atomic; on object stores the analog
  is a conditional PUT of the pointer object, or Iceberg snapshot commit
  which this layout deliberately mirrors).
* **idempotent retry** — re-running a failed publish of version N
  overwrites ``v{N:08d}`` and re-points; a crash BEFORE the pointer swap
  leaves the previous version current and the orphan directory inert.

Layout note for 100 TB: the relation is repartitioned on ``id`` into a
fixed partition count before writing, so the verify join of the NEXT batch
(keyed on id) and the band-derivation scan see a stable, evenly-sized
layout. In production the same contract is served by a bucketed catalog
table per version (plans/bucketed.write_bucketed with a versioned table
name) or an Iceberg table — the pointer-file mechanics below are the
filesystem-only stand-in this sandbox can test.
"""

from __future__ import annotations

import json
import os
import tempfile
from typing import Optional, Tuple

from pyspark.sql import DataFrame, SparkSession

LATEST = "_LATEST"
# the base-version sidecar inside a stream's checkpoint directory; the
# name predates the dedup stream, so checkpoints pinned earlier resume
BASE_VERSION_FILE = "_HOT_LINE_BASE_VERSION"


def _version_dir(path: str, version: int) -> str:
    return os.path.join(path, f"v{version:08d}")


def read_latest_version(path: str) -> Optional[int]:
    ptr = os.path.join(path, LATEST)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return int(json.load(f)["version"])


def read_index(spark: SparkSession, path: str) -> Tuple[DataFrame, int]:
    """The CURRENT index relation and its version. Raises FileNotFoundError
    when no version has ever been published."""
    v = read_latest_version(path)
    if v is None:
        raise FileNotFoundError(f"no published index under {path}")
    return spark.read.parquet(_version_dir(path, v)), v


def read_index_version(spark: SparkSession, path: str,
                       version: int) -> DataFrame:
    """A SPECIFIC published version — the read replayed micro-batches use
    (a replay must merge against its batch's own predecessor, not
    whatever is latest after the crash).  Raises FileNotFoundError for a
    never-written version."""
    d = _version_dir(path, version)
    if not os.path.isdir(d):
        raise FileNotFoundError(f"version {version} not present under {path}")
    return spark.read.parquet(d)


def write_index_version(
    df: DataFrame,
    path: str,
    version: Optional[int] = None,
    n_partitions: int = 64,
    key_col: str = "id",
) -> int:
    """Write ``df`` as a new index version and atomically publish it.

    ``version`` defaults to latest+1 (1 for a fresh store). Returns the
    published version number. The data write is overwrite-mode into the
    version's own directory, so a retried publish of the same version is
    idempotent; the pointer swap is the last step."""
    if version is None:
        cur = read_latest_version(path)
        version = 1 if cur is None else cur + 1
    os.makedirs(path, exist_ok=True)
    (df.repartition(n_partitions, key_col)
       .write.mode("overwrite").parquet(_version_dir(path, version)))
    fd, tmp = tempfile.mkstemp(prefix=LATEST, dir=path)
    with os.fdopen(fd, "w") as f:
        json.dump({"version": version}, f)
    os.replace(tmp, os.path.join(path, LATEST))  # the atomic publish
    return version


def load_or_pin_base_version(checkpoint_dir: str,
                             store_path: str,
                             base_version: Optional[int]) -> int:
    """A stream's base version, PINNED to a sidecar file in its checkpoint
    directory.  Both streaming loops publish ``base + batch_id + 1``, and a
    restart resumes the batch-id sequence at n, not 0, so re-deriving the
    base from the store's advanced latest would skip versions (and the
    hot-line loop would merge against a missing predecessor).

    Resolution order: an explicit ``base_version`` (a mismatch with the
    pin is an error, not a silent re-base); else the pin; else the
    store's current latest (0 for a fresh store), which is then pinned."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    sidecar = os.path.join(checkpoint_dir, BASE_VERSION_FILE)
    pinned: Optional[int] = None
    if os.path.exists(sidecar):
        with open(sidecar, "r", encoding="ascii") as f:
            pinned = int(f.read().strip())
    if base_version is not None:
        if pinned is not None and pinned != base_version:
            raise ValueError(
                f"base_version={base_version} conflicts with the value "
                f"{pinned} pinned at {sidecar} when this checkpoint's "
                f"batch-id sequence started; pass base_version=None to "
                f"resume, or use a fresh checkpoint_dir to re-base")
        resolved = base_version
    elif pinned is not None:
        resolved = pinned
    else:
        resolved = read_latest_version(store_path) or 0
    if pinned is None:
        # write-then-rename so a crash mid-write can't pin garbage
        tmp = sidecar + ".tmp"
        with open(tmp, "w", encoding="ascii") as f:
            f.write(str(resolved))
        os.replace(tmp, sidecar)
    return resolved
