package graft

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.FileFormatWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

import graft.Lake.LiveFile

/** THE file writer under every lake write: appends, generation
  * rewrites, derived generations and the side indexes. Each task writes
  * its files once, at their final names under `dir`, and reports each
  * file's (partition directory, name, length, mtime) in its commit
  * message; nothing is staged, renamed or marked `_SUCCESS`. Whether the
  * files are part of the lake is decided by the caller's commit (a
  * sidecar version naming them), never by this writer — a file no
  * sidecar names is invisible and [[Lake.vacuum]] sweeps it.
  *
  * Driven through Spark's `FileFormatWriter` with the parquet format, so
  * the output bytes, the dynamic-partition writer and the row-to-file
  * split are Spark's own; only the commit protocol is ours. */
private[graft] object LakeWriter {

  /** One written file: its partition directory name (empty for an
    * unpartitioned write) and its recorded status. */
  final case class Written(dir: String, file: LiveFile)

  /** Write `content` as parquet under `dir`, partitioned by
    * `partitionCol` when given, and return the files written. File names
    * are `part-<task>-<uuid>-c<n>.<codec>.parquet`: a fresh uuid
    * per call, so concurrent writers never collide. `content`'s own
    * partitioning is the task split. On failure, every file a task of
    * this call committed is deleted before the error surfaces (an
    * aborted task deletes its own). */
  def write(content: DataFrame, dir: Path, partitionCol: Option[String],
      codec: String): Seq[Written] = {
    val ds = content.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val protocol = new Protocol(java.util.UUID.randomUUID().toString,
      dir.toString)
    val hadoopConf = new org.apache.hadoop.conf.Configuration(
      session.sparkContext.hadoopConfiguration)
    SQLExecution.withNewExecutionId(qe, Some("graft write")) {
      val plan = qe.executedPlan
      val parts = partitionCol.toSeq.map(c => plan.output.find(_.name == c)
        .getOrElse(throw new IllegalArgumentException(
          s"write to $dir: partition column $c is not in the written frame")))
      FileFormatWriter.write(
        sparkSession = session,
        plan = plan,
        fileFormat = new ParquetFileFormat,
        committer = protocol,
        outputSpec = FileFormatWriter.OutputSpec(dir.toString, Map.empty, plan.output),
        hadoopConf = hadoopConf,
        partitionColumns = parts,
        bucketSpec = None,
        statsTrackers = Nil,
        options = Map("compression" -> codec))
    }
    protocol.committed
  }

  /** The commit protocol: files go straight to their final names; a
    * task commit, once the driver's commit coordinator authorizes the
    * attempt, stats each of its files (executor side, in parallel across
    * tasks) and returns them; the driver collects them as each task
    * commits, so a job abort can delete every file a committed task
    * wrote, and job commit has nothing left to do — the caller's sidecar
    * version is the commit. Task attempts write distinct names, so a
    * retried or speculative attempt never overwrites another's file, and
    * an attempt the coordinator denies deletes its own. */
  private final class Protocol(jobId: String, root: String)
      extends FileCommitProtocol with Serializable {

    @transient private var taskFiles: Seq[(String, Path)] = Nil
    @transient private var jobFiles: Seq[Written] = Nil

    def committed: Seq[Written] = jobFiles

    override def setupJob(jobContext: JobContext): Unit = ()

    override def commitJob(jobContext: JobContext,
        taskCommits: Seq[TaskCommitMessage]): Unit = ()

    override def abortJob(jobContext: JobContext): Unit = {
      val fs = new Path(root).getFileSystem(jobContext.getConfiguration)
      jobFiles.foreach { w =>
        try fs.delete(pathOf(w), false)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }

    override def onTaskCommit(msg: TaskCommitMessage): Unit =
      jobFiles = jobFiles ++ msg.obj.asInstanceOf[Seq[Written]]

    override def setupTask(taskContext: TaskAttemptContext): Unit =
      taskFiles = Nil

    override def newTaskTempFile(taskContext: TaskAttemptContext,
        dir: Option[String], spec: FileNameSpec): String = {
      val attempt = taskContext.getTaskAttemptID
      val name = f"${spec.prefix}part-${attempt.getTaskID.getId}%05d-" +
        s"$jobId-${attempt.getId}${spec.suffix}"
      val d = dir.getOrElse("")
      val p = if (d.isEmpty) new Path(root, name) else new Path(new Path(root, d), name)
      taskFiles = taskFiles :+ (d -> p)
      p.toString
    }

    override def newTaskTempFileAbsPath(taskContext: TaskAttemptContext,
        absoluteDir: String, spec: FileNameSpec): String =
      throw new UnsupportedOperationException(
        "lake writes have no custom partition locations")

    override def commitTask(taskContext: TaskAttemptContext): TaskCommitMessage = {
      // only the attempt the driver authorizes reports its files; a
      // denied one (a speculative copy, a retry of a task whose commit
      // already ran) deletes them, so no task's rows sit in a second
      // file at a final name
      org.apache.spark.sql.GraftShims.authorizeTaskCommit(abortTask(taskContext))
      val conf = taskContext.getConfiguration
      new TaskCommitMessage(taskFiles.map { case (d, p) =>
        Written(d, LiveFile.of(p.getFileSystem(conf).getFileStatus(p)))
      })
    }

    override def abortTask(taskContext: TaskAttemptContext): Unit = {
      val fs = new Path(root).getFileSystem(taskContext.getConfiguration)
      def quietly(f: => Any): Unit =
        try { f; () } catch { case scala.util.control.NonFatal(_) => () }
      taskFiles.foreach { case (_, p) => quietly(fs.delete(p, false)) }
      // and the directories its files opened, once empty: an attempt a
      // failed job has not stopped yet can open a file after the caller
      // deleted the tree, and aborting is the last thing it does
      (taskFiles.map(_._2.getParent).distinct :+ new Path(root)).foreach { d =>
        quietly(if (fs.listStatus(d).isEmpty) fs.delete(d, false))
      }
    }

    private def pathOf(w: Written): Path =
      if (w.dir.isEmpty) new Path(root, w.file.name)
      else new Path(new Path(root, w.dir), w.file.name)
  }
}
