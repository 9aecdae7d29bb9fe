package graft

import java.net.URI

import org.apache.hadoop.fs.Path

object DropPartFs {
  /** When armed, the next part file written inside a generation tree (a
    * rewrite writing its new generation) is silently lost: the store
    * acknowledges the write, the file never shows. */
  @volatile var armed: Boolean = false

  /** When set, the next part file written inside a generation tree is
    * silently replaced, once closed, by these bytes: a valid parquet
    * file with fewer rows, so the write succeeds and only the rows come
    * up short. */
  @volatile var shortPart: Option[Array[Byte]] = None
}

/** [[BucketFs]] that silently loses, or silently shortens, one written
  * part file of a rewrite. */
class DropPartFs extends BucketFs {
  override def getScheme: String = "droppart"
  override def getUri: URI = URI.create("droppart:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    // Some(Some(bytes)): shorten this file; Some(None): lose it
    val fault =
      if (!f.toString.matches(".*/gen-\\d+/.*\\.parquet")) None
      else DropPartFs.synchronized {
        val hit =
          if (DropPartFs.shortPart.isDefined) Some(DropPartFs.shortPart)
          else if (DropPartFs.armed) Some(None)
          else None
        DropPartFs.armed = false
        DropPartFs.shortPart = None
        hit
      }
    val self = this
    fault.fold(out) { short =>
      new org.apache.hadoop.fs.FSDataOutputStream(
        new java.io.FilterOutputStream(out) {
          override def write(b: Array[Byte], off: Int, len: Int): Unit =
            out.write(b, off, len)
          override def close(): Unit = {
            out.close()
            short match {
              case Some(bytes) =>
                val o = self.create(f, true)
                try o.write(bytes) finally o.close()
              case None => self.delete(f, false)
            }
            ()
          }
        }, null)
    }
  }
}

/** The post-write row check of every rewrite (row-level writes,
  * compaction, reshard steps) keeps its strength: a written part file
  * whose rows come up short, or that never shows, aborts the op before
  * its commit, the live state stays as it was, and the unreferenced tree
  * is removed. */
class RewriteCheckSpec extends SparkSpec {
  import spark.implicits._

  private def lake(): Lake = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.droppart.impl", classOf[DropPartFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_dropcheck").toString
    val l = Lake(spark, LakeConfig(s"droppart://$dir/lake", dim = 5, numHashes = 4))
    val rng = new scala.util.Random(11)
    l.ingest((0 until 200).map(i =>
      (s"r$i", Seq.fill(5)(rng.nextGaussian().toFloat), s"doc $i"))
      .toDF("id", "vector", "document"))
    l
  }

  private def rows(l: Lake): Seq[String] =
    l.read().collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def gens(l: Lake): Set[String] = {
    val root = new Path(l.cfg.location)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(root).map(_.getPath.getName).filter(_.startsWith("gen-")).toSet
  }

  /** A valid parquet file holding no rows. */
  private lazy val emptyPart: Array[Byte] = {
    val d = java.nio.file.Files.createTempDirectory("graft_emptypart").toString + "/p"
    spark.range(0).toDF("x").coalesce(1).write.parquet(d)
    val f = new java.io.File(d).listFiles().find(_.getName.endsWith(".parquet"))
    assert(f.isDefined, "an empty frame writes one schema-only part file")
    java.nio.file.Files.readAllBytes(f.get.toPath)
  }

  /** `op` aborts twice, leaving the lake as it was each time: first when
    * a written part file is shortened to no rows (the post-write row
    * check), then when one never shows (the write itself fails). */
  private def aborts(l: Lake)(op: => Any): Unit = {
    val before = rows(l)
    val trees = gens(l)
    def once(why: String)(arm: => Unit): Unit = {
      arm
      val e = try intercept[Exception](op)
        finally { DropPartFs.armed = false; DropPartFs.shortPart = None }
      assert(e.getMessage.matches(
        s"(?s)partition rewrite \\(.+\\) aborted: $why.*"), e.getMessage)
      assert(rows(l) === before, "an aborted rewrite must leave the live rows as they were")
      assert(gens(l) === trees, "an aborted rewrite must remove its unreferenced tree")
    }
    once("wrote \\d+ rows, expected \\d+")(DropPartFs.shortPart = Some(emptyPart))
    once("write failed")(DropPartFs.armed = true)
  }

  test("upsert aborts when a committed part file goes missing") {
    val l = lake()
    val rng = new scala.util.Random(12)
    val batch = ((0 until 8).map(i => s"r$i") ++ (0 until 8).map(i => s"new$i"))
      .map(id => (id, Seq.fill(5)(rng.nextGaussian().toFloat), s"$id v2"))
      .toDF("id", "vector", "document")
    aborts(l)(l.upsert(batch))
  }

  test("deleteIds aborts when a committed part file goes missing") {
    val l = lake()
    aborts(l)(l.deleteIds((0 until 8).map(i => s"r$i")))
  }

  test("compact aborts when a committed part file goes missing") {
    val l = lake()
    aborts(l)(l.compact())
  }

  test("compactIncremental aborts when a committed part file goes missing") {
    val l = lake()
    val rng = new scala.util.Random(13)
    (0 until 2).foreach { b =>
      l.ingest((0 until 100).map(i =>
        (s"f$b-$i", Seq.fill(5)(rng.nextGaussian().toFloat), s"doc $b-$i"))
        .toDF("id", "vector", "document"))
    }
    aborts(l)(l.compactIncremental(maxFilesPerShard = 1))
  }

  test("a reshard step aborts when a committed part file goes missing") {
    // the transition commits first; the step that follows is the rewrite
    val l = lake().reshard(5, maxDirs = 0)
    aborts(l)(l.reshard(5, maxDirs = 1, dirsPerCommit = 1))
    assert(l.reshardStatus().map(_._3) === Some(16L), "the aborted step retired nothing")
  }
}
