package org.apache.spark

/** Spark's output commit coordinator, which is private to Spark: a task
  * asks the driver whether it may commit its files. The driver says no
  * once the stage is over (its job failed, or another attempt of the
  * partition committed), so a task that finishes late aborts instead of
  * leaving files that nobody commits or deletes. */
object GraftCommitBridge {
  def canCommit(ctx: TaskContext): Boolean =
    SparkEnv.get.outputCommitCoordinator.canCommit(ctx.stageId(),
      ctx.stageAttemptNumber(), ctx.partitionId(), ctx.attemptNumber())
}
