package graft

import java.net.URI

import org.apache.hadoop.fs.Path

object DropPartFs {
  /** When armed, the next rename that lands data inside a generation
    * tree (a rewrite's commit publishing its part files) silently loses
    * one part file; the rename still reports success. */
  @volatile var armed: Boolean = false
}

/** [[BucketFs]] that silently drops one committed part file of a
  * rewrite: the store acknowledged the write, the file never shows. */
class DropPartFs extends BucketFs {
  override def getScheme: String = "droppart"
  override def getUri: URI = URI.create("droppart:///")
  override def rename(src: Path, dst: Path): Boolean = {
    val ok = super.rename(src, dst)
    val d = dst.toString
    if (ok && DropPartFs.armed && d.matches(".*/gen-\\d+/.*") &&
        !d.contains("_temporary")) {
      parts(dst).headOption.foreach { f =>
        DropPartFs.armed = false
        delete(f, false)
      }
    }
    ok
  }

  private def parts(p: Path): Seq[Path] =
    if (getFileStatus(p).isFile) Seq(p).filter(_.getName.endsWith(".parquet"))
    else listStatus(p).toSeq.flatMap(s => parts(s.getPath))
}

/** The post-write row check of every rewrite (row-level writes,
  * compaction, reshard steps) keeps its strength: a committed part file
  * that goes missing aborts the op before its commit, the live state
  * stays as it was, and the unreferenced tree is removed. */
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

  private def aborts(l: Lake)(op: => Any): Unit = {
    val before = rows(l)
    val trees = gens(l)
    DropPartFs.armed = true
    val e = try intercept[Exception](op) finally DropPartFs.armed = false
    assert(e.getMessage.matches("(?s)partition rewrite \\(.+\\) aborted.*"), e.getMessage)
    assert(rows(l) === before, "an aborted rewrite must leave the live rows as they were")
    assert(gens(l) === trees, "an aborted rewrite must remove its unreferenced tree")
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
