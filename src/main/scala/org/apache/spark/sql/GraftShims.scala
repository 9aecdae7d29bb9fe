package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge for wrapping custom Catalyst expressions as user-facing
  * Columns: `ExpressionUtils` is `private[sql]` in Spark 4, so the
  * (conventional) extension shim lives in the org.apache.spark.sql
  * namespace. Used only by graft.functions.VectorFunctions. */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def functionRegistry(spark: SparkSession): org.apache.spark.sql.catalyst.analysis.FunctionRegistry =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry

  /** Wrap a planned BATCH frame's row RDD as a STREAMING frame — the
    * v1 `Source.getBatch` contract (MicroBatchExecution asserts
    * `isStreaming` on what a source returns, but the natural way to
    * express a micro-batch is a plain DataFrame over the store;
    * FileStreamSource does exactly this wrap internally, through the
    * same `private[sql]` door this shim opens). The wrapped plan stays
    * fully distributed — `toRdd` is the lazily-evaluated physical plan,
    * not collected rows. */
  def asStreamingFrame(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The INVERSE of [[asStreamingFrame]], for the v1 `Sink.addBatch`
    * contract: pin the micro-batch DataFrame a sink receives to its
    * already-planned row RDD and re-expose it as a PLAIN batch frame.
    * Transformations on the frame addBatch hands over re-enter the
    * incremental planner; the pinned wrap plans like any batch source
    * (DeltaSink does the identical wrap through this same
    * `private[sql]` door). Still fully distributed — `toRdd` is the
    * lazy physical plan, not collected rows. */
  def asBatchFrame(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** Ask the driver's output-commit coordinator whether this task
    * attempt may commit its files: of a task's attempts (a retry, a
    * speculative copy) it authorizes one, the arbitration Spark's own
    * file committers get from `SparkHadoopMapRedUtil.commitTask`. A
    * denied attempt runs `onDenied` (deleting its files) and throws
    * `CommitDeniedException`, which the scheduler counts as a denied
    * commit, not a task failure. Both the coordinator and the exception
    * are `private[spark]`; [[graft.LakeWriter]] is the caller. */
  def authorizeTaskCommit(onDenied: => Unit): Unit = {
    val ctx = org.apache.spark.TaskContext.get()
    if (!org.apache.spark.SparkEnv.get.outputCommitCoordinator.canCommit(
        ctx.stageId(), ctx.stageAttemptNumber(), ctx.partitionId(),
        ctx.attemptNumber())) {
      onDenied
      throw new org.apache.spark.executor.CommitDeniedException(
        s"attempt ${ctx.attemptNumber()} of task ${ctx.partitionId()} in " +
          s"stage ${ctx.stageId()}.${ctx.stageAttemptNumber()} was not " +
          "authorized to commit its files",
        ctx.stageId(), ctx.partitionId(), ctx.attemptNumber())
    }
  }

  /** Driver-side twin of the `xxhash64(string)` SQL function (seed 42) —
    * what `BloomFilterAggregate` stored via [[graft.operators.BloomJoin]],
    * so a handful of ids can be tested against collected sketches
    * without launching a job. */
  def xxhash64String(s: String): Long =
    catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(s),
      types.StringType, 42L)
}
