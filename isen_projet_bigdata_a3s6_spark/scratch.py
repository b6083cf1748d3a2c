"""Per-session scratch directories for sink/stage/checkpoint paths.

Every query or streaming helper that writes to disk gets its directory from
here, keyed by (Spark application id, tag): repeated invocations of the
same operation — bench best-of-N reps, oracle sweeps, degenerate sweeps —
reuse and wipe ONE directory instead of leaking a fresh
``tempfile.mkdtemp`` copy of the staged/written table per call. The
round-3 bench regression (q18/q24/q26/q29 up to 6.5× slower with unchanged
query code) was exactly this class of leak accumulating across reps.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def scratch_dir(spark: SparkSession, tag: str) -> str:
    """Fresh empty directory, stable path per (session, tag).

    The directory is removed and recreated on every call, which keeps the
    fresh-empty-dir semantics call sites rely on (streaming checkpoints
    must start clean; parquet read-backs must not fold in stale parts).

    Contract: a tag names ONE operation, and calls for the same tag must
    not overlap — each call wipes the previous call's directory.
    """
    app_id = spark.sparkContext.applicationId
    root = os.path.join(tempfile.gettempdir(), f"a3s6_scratch_{app_id}", tag)
    shutil.rmtree(root, ignore_errors=True)
    if os.path.exists(root):
        # the wipe failed (EBUSY on a still-open handle, NFS silly-rename,
        # foreign-owned file): a re-used directory with leftovers would
        # corrupt the read-back — fall back to a fresh unique dir, trading
        # one leaked dir for guaranteed-clean reads
        return tempfile.mkdtemp(prefix=f"a3s6_{tag}_")
    os.makedirs(root)
    return root


def stage_parquet_files(parquet_path: str, stage_dir: str) -> int:
    """Symlink a parquet table's data file(s) into ``stage_dir`` (flat) and
    return the file count. Handles BOTH table shapes: a single parquet file
    (the driver fixtures) links directly; a Spark-written DIRECTORY — every
    real deployment — links each part-file individually, because the
    FileStreamSource does not recurse through a symlinked directory (it
    streamed ZERO files and produced an uninferrable empty sink; caught by
    the sf1 upscale smoke on every streaming query). Raises on a directory
    with no data files so the caller fails loudly instead of streaming
    nothing."""
    if os.path.isdir(parquet_path):
        n = 0
        for name in sorted(os.listdir(parquet_path)):
            if name.endswith(".parquet") and not name.startswith((".", "_")):
                os.symlink(
                    os.path.join(parquet_path, name),
                    os.path.join(stage_dir, f"{n:05d}_{name}"),
                )
                n += 1
        if n == 0:
            raise ValueError(f"stage_parquet_files: no parquet data files under {parquet_path}")
        return n
    os.symlink(parquet_path, os.path.join(stage_dir, os.path.basename(parquet_path)))
    return 1
