"""Lineage-cut policy for iterative operators.

Iterative operators (connected-components label propagation, grid-exact 1-NN
rounds, LSH pair materialization) must cut their lineage every round or the
plan nests unboundedly. Two modes:

- ``localCheckpoint`` (default when no checkpoint dir is configured):
  executor-local blocks — fast, but NOT fault-tolerant. A lost executor on a
  real cluster loses the blocks and kills the job mid-iteration.
- reliable ``checkpoint()`` (used automatically when a checkpoint dir is
  set): blocks go to the checkpoint directory (HDFS/object store on a
  cluster) and survive executor loss — the 100 TB posture.

Enable the reliable path by calling :func:`ensure_checkpoint_dir` before
running iterative operators (with no ``path`` it reads
``SPARK_GRAFT_CHECKPOINT_DIR``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def reliable_checkpoint_enabled(spark: SparkSession) -> bool:
    """True iff a reliable checkpoint dir is configured on the context."""
    return spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()


def ensure_checkpoint_dir(spark: SparkSession, path: str | None = None) -> bool:
    """Configure the reliable checkpoint dir from ``path`` or
    ``$SPARK_GRAFT_CHECKPOINT_DIR``. Returns True if a dir is configured
    after the call (idempotent)."""
    if reliable_checkpoint_enabled(spark):
        return True
    path = path or os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if path:
        spark.sparkContext.setCheckpointDir(path)
        return True
    return False


def cut_lineage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` eagerly and cut its lineage: reliable
    ``checkpoint()`` iff a checkpoint dir is configured, else
    ``localCheckpoint``."""
    if reliable_checkpoint_enabled(df.sparkSession):
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
