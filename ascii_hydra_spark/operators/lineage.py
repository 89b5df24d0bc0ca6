"""Lineage truncation whose durability follows the deployment.

Iterative and reused-subtree operators (PageRank, connected components,
boilerplate removal, snapshot drift) must materialize intermediate
DataFrames: without truncation the lineage grows per iteration (planning
blows up) or the same expensive subtree is recomputed per consumer.

Every operator truncates through :func:`truncate_lineage`, and the
session's checkpoint directory picks the strategy:

- no checkpoint directory (the default): ``localCheckpoint`` — blocks
  are executor-local disk/memory, written with no extra I/O beyond the
  shuffle, and reclaimed by the ContextCleaner when the plan is dropped.
  Blocks are NOT replicated, so losing an executor mid-query kills the
  query (its lineage was truncated, nothing can be recomputed). Right for
  local mode and short jobs.
- checkpoint directory set (``spark.checkpoint.dir`` in the platform's
  Spark conf, or ``sparkContext.setCheckpointDir``; on a cluster an
  HDFS/S3 path): reliable ``checkpoint`` through that directory. Survives
  executor loss at the cost of a write+read through the distributed FS.
  Right for long runs on preemptible/spot executors.

Same rule as MLlib's ``checkpointInterval``, which only takes effect when
the SparkContext has a checkpoint directory: resilience is a deployment
setting, so one script runs unchanged on a laptop and on a spot cluster.
See SCALE.md "Lineage truncation".
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Eagerly materialize `df` and cut its lineage; see module docstring."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint()
    return df.localCheckpoint()
