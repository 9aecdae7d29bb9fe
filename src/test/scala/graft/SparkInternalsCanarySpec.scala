package graft

import org.scalatest.funsuite.AnyFunSuite

/** SPARK-MAJOR CANARY for the engine's accepted internal/v1 surfaces
  * (docs/adr-streaming-extension-points.md): the netted change-feed
  * source and the exactly-once sink deliberately stay on the v1
  * streaming extension points, and `GraftShims` opens five
  * `private[sql]`/`private[spark]` doors. These are the FIRST things a Spark major
  * bump breaks — this suite enumerates every touchpoint by
  * reflection so an upgrade fails ONE named test with the ADR's
  * migration notes attached, instead of forty suites with raw
  * NoSuchMethodErrors.
  *
  * EXHAUSTIVENESS is grep-verified: the last test scans src/main for
  * internal-API markers and fails if a file starts using one this
  * canary does not know about (add the touchpoint here WITH its
  * migration note, or don't use it). */
class SparkInternalsCanarySpec extends AnyFunSuite {

  private val adr = "docs/adr-streaming-extension-points.md"

  private def canary(name: String): Class[_] =
    try Class.forName(name)
    catch {
      case e: Throwable => fail(
        s"SPARK-MAJOR CANARY: $name no longer loads ($e). Migration " +
          s"notes: $adr — the v1 source maps to SupportsRead + " +
          "MicroBatchStream over sealedFileStatuses; the v1 sink's " +
          "batch commit needs a driver-transactional DSv2 " +
          "streaming commit; " +
          "GraftShims members each carry their replacement inline.")
    }

  private def method(c: Class[_], name: String, arity: Int): Unit =
    assert(
      (c.getMethods ++ c.getDeclaredMethods)
        .exists(m => m.getName == name && m.getParameterCount == arity),
      s"SPARK-MAJOR CANARY: ${c.getName}.$name/$arity changed or " +
        s"vanished — see $adr for the migration path")

  test("v1 streaming Sink: execution.streaming.Sink.addBatch(Long, DataFrame)") {
    val c = canary("org.apache.spark.sql.execution.streaming.Sink")
    method(c, "addBatch", 2)
  }

  test("v1 sink registration: sources.StreamSinkProvider.createSink/4") {
    val c = canary("org.apache.spark.sql.sources.StreamSinkProvider")
    method(c, "createSink", 4)
  }

  test("v1 streaming Source: getOffset/getBatch/commit/stop + schema") {
    val c = canary("org.apache.spark.sql.execution.streaming.Source")
    method(c, "getOffset", 0)
    method(c, "getBatch", 2)
    method(c, "commit", 1)
    method(c, "stop", 0)
    method(c, "schema", 0)
  }

  test("v1 source registration: sources.StreamSourceProvider.createSource/5 + sourceSchema/4") {
    val c = canary("org.apache.spark.sql.sources.StreamSourceProvider")
    method(c, "createSource", 5)
    method(c, "sourceSchema", 4)
  }

  test("GraftShims door 1: classic.ExpressionUtils.column/expression (Column <-> Expression)") {
    val c = canary("org.apache.spark.sql.classic.ExpressionUtils$")
    method(c, "column", 1)
    method(c, "expression", 1)
  }

  test("GraftShims door 2: classic.SparkSession.sessionState.functionRegistry") {
    val c = canary("org.apache.spark.sql.classic.SparkSession")
    method(c, "sessionState", 0)
    val ss = canary("org.apache.spark.sql.internal.SessionState")
    method(ss, "functionRegistry", 0)
  }

  test("GraftShims door 3: classic.SparkSession.internalCreateDataFrame(rdd, schema, isStreaming)") {
    // the batch<->streaming frame wrap both the v1 source's getBatch
    // and the v1 sink's addBatch ride (FileStreamSource/DeltaSink use
    // the same door)
    val c = canary("org.apache.spark.sql.classic.SparkSession")
    method(c, "internalCreateDataFrame", 3)
  }

  test("GraftShims door 4: catalyst XxHash64Function.hash(value, dataType, seed)") {
    val c = canary("org.apache.spark.sql.catalyst.expressions.XxHash64Function$")
    method(c, "hash", 3)
  }

  test("GraftShims door 5: scheduler.OutputCommitCoordinator.canCommit/4 + executor.CommitDeniedException/4") {
    // graft.LakeWriter's task commit asks the driver which attempt of a
    // task may report its files, as SparkHadoopMapRedUtil.commitTask
    // does for Spark's own committers. Migration: if the coordinator
    // moves, call SparkHadoopMapRedUtil.commitTask with a no-op Hadoop
    // OutputCommitter whose commitTask is the file stat, which keeps
    // the arbitration.
    method(canary("org.apache.spark.scheduler.OutputCommitCoordinator"), "canCommit", 4)
    method(canary("org.apache.spark.SparkEnv"), "outputCommitCoordinator", 0)
    assert(canary("org.apache.spark.executor.CommitDeniedException")
      .getConstructors.exists(_.getParameterCount == 4),
      "SPARK-MAJOR CANARY: CommitDeniedException(msg, job, split, attempt) changed")
  }

  test("lake file writer: execution.datasources.FileFormatWriter.write/11 + internal.io.FileCommitProtocol") {
    // graft.LakeWriter drives Spark's own parquet write path with an
    // in-repo commit protocol (files written once at their final names,
    // commit messages carrying name/length/mtime). Migration: if
    // FileFormatWriter.write changes shape, the same protocol rides the
    // DSv2 file write path (a BatchWrite whose DataWriters return the
    // written files in their WriterCommitMessages); if FileCommitProtocol
    // changes, keep the contract — no staging, no rename, the caller's
    // sidecar version is the commit point.
    val w = canary("org.apache.spark.sql.execution.datasources.FileFormatWriter$")
    method(w, "write", 11)
    val p = canary("org.apache.spark.internal.io.FileCommitProtocol")
    Seq("setupJob" -> 1, "commitJob" -> 2, "abortJob" -> 1, "setupTask" -> 1,
      "newTaskTempFile" -> 3, "newTaskTempFileAbsPath" -> 3,
      "commitTask" -> 1, "abortTask" -> 1, "onTaskCommit" -> 1)
      .foreach { case (m, n) => method(p, m, n) }
    val spec = canary("org.apache.spark.sql.execution.datasources.FileFormatWriter$OutputSpec")
    assert(spec.getConstructors.exists(_.getParameterCount == 3),
      "SPARK-MAJOR CANARY: FileFormatWriter.OutputSpec(path, custom locations, columns) changed")
  }

  test("exhaustive: no src/main file uses an internal surface this canary does not list") {
    val root = new java.io.File("src/main/scala")
    assume(root.isDirectory, "run from the repo root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val markers = Seq(
      "execution.streaming.Sink", "execution.streaming.Source",
      "StreamSinkProvider", "StreamSourceProvider",
      "internalCreateDataFrame", "ExpressionUtils", "XxHash64Function",
      "sessionState.functionRegistry", "FileFormatWriter", "FileCommitProtocol",
      "outputCommitCoordinator", "CommitDeniedException")
    val hits = for {
      f <- walk(root)
      src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      m <- markers if src.contains(m)
    } yield f.getName -> m
    // the KNOWN users: the shim itself, the DSv2 registration file
    // (sink), the change-feed source and the lake file writer.
    // `extends Source` in LakeChanges resolves through the
    // execution.streaming import.
    val allowed = Set("GraftShims.scala", "GraftDataSource.scala",
      "LakeChanges.scala", "LakeWriter.scala")
    val strays = hits.filterNot(h => allowed(h._1))
    assert(strays.isEmpty,
      s"SPARK-MAJOR CANARY: internal-API markers appeared outside the " +
        s"known files — add the touchpoint to this canary WITH its " +
        s"migration note (see $adr), or do not use it: $strays")
    // ... and the private[sql] namespace holds exactly the one shim
    val sqlNs = new java.io.File("src/main/scala/org/apache/spark/sql")
    assert(sqlNs.isDirectory &&
      walk(sqlNs).map(_.getName) == Seq("GraftShims.scala"),
      "the org.apache.spark.sql namespace must hold exactly GraftShims.scala")
  }
}
