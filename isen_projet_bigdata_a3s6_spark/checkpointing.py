"""Lineage-cut policy for iterative operators.

Iterative operators (connected-components label propagation, grid-exact 1-NN
rounds, LSH pair materialization) must cut their lineage every round or the
plan nests unboundedly. Two modes:

- ``localCheckpoint`` (default when no checkpoint dir is configured):
  executor-local blocks — fast, but NOT fault-tolerant. A lost executor on a
  real cluster loses the blocks and kills the job mid-iteration.
- reliable ``checkpoint()`` (used automatically when a checkpoint dir is
  set): blocks go to the checkpoint directory (HDFS/object store on a
  cluster) and survive executor loss.

Enable the reliable path with Spark's own setting: the
``spark.checkpoint.dir`` conf when the session is built (for example
``get_spark(extra_conf={"spark.checkpoint.dir": path})``), or
``spark.sparkContext.setCheckpointDir(path)`` on a running session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def reliable_checkpoint_enabled(spark: SparkSession) -> bool:
    """True iff a reliable checkpoint dir is configured on the context."""
    return spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()


def cut_lineage(df: DataFrame) -> DataFrame:
    """Materialize ``df`` eagerly and cut its lineage: reliable
    ``checkpoint()`` iff a checkpoint dir is configured, else
    ``localCheckpoint``."""
    if reliable_checkpoint_enabled(df.sparkSession):
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
