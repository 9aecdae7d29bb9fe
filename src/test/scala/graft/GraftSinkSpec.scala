package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.GraftDataSource

/** The registered streaming SINK (`writeStream.format("graft")`):
  * end-to-end micro-batch ingest, restart continuation, the
  * exactly-once batch record in the sidecar (replay skip, torn
  * attempts, the head across every rewriting commit), the
  * read-loop with the `graft-changes` source, and the surface
  * refusals (output mode, partitionBy, missing checkpoint). */
class GraftSinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_sink_spec").toString

  private def fsOf(loc: String) =
    new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def newestSidecar(loc: String): Path =
    fsOf(loc).listStatus(new Path(loc)).map(_.getPath)
      .filter(p => Lake.metaNameRe.pattern.matcher(p.getName).matches())
      .maxBy(_.getName.split('.')(1).toLong)

  /** Delete the newest sidecar version after checking that it is the
    * commit recording `batch` for sink `idHex`: what a crash just before
    * that commit leaves — the batch's files written, no version naming
    * them. */
  private def dropNewestSidecar(loc: String, idHex: String, batch: Long): Unit = {
    val p = newestSidecar(loc)
    assert(ControlFiles.read[ControlFiles.LakeSidecar](fsOf(loc), p).sinks
      .exists(_.contains(ControlFiles.SinkBatch(idHex, batch))))
    fsOf(loc).delete(p, false)
  }

  /** The lake serves `docs` exactly once, names no missing file, and
    * vacuum deletes the `unnamed` files of an earlier attempt. */
  private def assertOneCopyThenSwept(lake: Lake, docs: Array[String],
      unnamed: Seq[Path]): Unit = {
    assert(lake.read().select("document").as[String].collect().sorted === docs)
    assert(lake.validate().head().getAs[Long]("missing_files") === 0L)
    val served = lake.read().inputFiles.map(new Path(_)).toSet
    assert(unnamed.forall(p => !served(p)))
    lake.vacuum()
    assert(unnamed.forall(p => !fsOf(lake.cfg.location).exists(p)),
      "vacuum deletes the files no sidecar names")
    assert(lake.read().select("document").as[String].collect().sorted === docs)
  }

  test("writeStream format(graft): micro-batches land as routed lake appends; restart continues without dupes") {
    implicit val sqlCtx = spark.sqlContext
    val loc = tmp() + "/lake"
    val cp = tmp() + "/cp"
    val stream = MemoryStream[(Seq[Float], String)]
    def start() = stream.toDF().toDF("vector", "document")
      .writeStream.format("graft")
      .option("path", loc)
      .option("checkpointLocation", cp)
      .option("dim", "4").option("numHashes", "2")
      .start()

    val q1 = start()
    try {
      stream.addData(Seq(1f, 0f, 0f, 0f) -> "a", Seq(0f, 1f, 0f, 0f) -> "b")
      q1.processAllAvailable()
      stream.addData(Seq(0f, 0f, 1f, 0f) -> "c")
      q1.processAllAvailable()
    } finally q1.stop()

    val lake = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
    val afterFirst = lake.read()
    assert(afterFirst.count() === 3)
    // full derive path ran: uuid ids, default metadata, shard routing
    assert(afterFirst.select("id").as[String].collect().forall(_.nonEmpty))
    assert(afterFirst.select("shard").distinct().count() >= 1)

    // restart from the same checkpoint: committed batches replay as
    // no-ops (ledger), new data appends
    val q2 = start()
    try {
      stream.addData(Seq(0f, 0f, 0f, 1f) -> "d")
      q2.processAllAvailable()
    } finally q2.stop()
    assert(lake.read().count() === 4)
    assert(lake.read().select("document").as[String].collect().toSet ===
      Set("a", "b", "c", "d"))
  }

  test("ingestExactlyOnce: head replay skipped; a batch BELOW the ledger head refuses loudly") {
    val loc = tmp() + "/lake"
    val lake = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
    val rows = Seq((Seq(1f, 0f, 0f, 0f), "x")).toDF("vector", "document")
    assert(lake.ingestExactlyOnce(rows, "sink-a", 0L))
    assert(!lake.ingestExactlyOnce(rows, "sink-a", 0L)) // head replay
    assert(lake.read().count() === 1)
    assert(lake.ingestExactlyOnce(rows, "sink-a", 1L))
    // batch 0 arriving when the ledger head is 1 is NOT a replay Spark
    // can produce (the commit log lags by at most one): it means a
    // wiped checkpoint is reusing this sink identity, and skipping
    // would silently drop batches until the count caught up — refuse
    val e = intercept[IllegalArgumentException](
      lake.ingestExactlyOnce(rows, "sink-a", 0L))
    assert(e.getMessage.contains("wiped checkpoint"))
    assert(lake.read().count() === 2)
    // a DIFFERENT sink identity has its own ledger
    assert(lake.ingestExactlyOnce(rows, "sink-b", 0L))
    assert(lake.read().count() === 3)
  }

  test("torn-attempt sweep: a crashed batch's published files are replaced, not duplicated, on replay") {
    val loc = tmp() + "/lake"
    val fs = fsOf(loc)
    val lake = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
    val batch = Seq(
      (Seq(1f, 0f, 0f, 0f), "p"), (Seq(0f, 1f, 0f, 0f), "q"),
      (Seq(0f, 0f, 1f, 0f), "r")).toDF("vector", "document")
    assert(lake.ingestExactlyOnce(batch, "sink-t", 7L))
    assert(lake.read().count() === 3)

    // the crash window: the batch's files are written but the sidecar
    // version that names them (and records the batch) never landed
    val torn = lake.read().inputFiles.map(new Path(_))
    dropNewestSidecar(loc, Lake.sinkIdHex("sink-t"), 7L)
    assert(torn.forall(fs.exists), "the attempt's files stay on disk")
    assert(lake.read().count() === 0, "files no sidecar names are invisible")

    // the replay converges to exactly one copy; the attempt's files are
    // no lake file, so nothing is missing, and vacuum deletes them
    assert(lake.ingestExactlyOnce(batch, "sink-t", 7L))
    assertOneCopyThenSwept(lake, Array("p", "q", "r"), torn)
    assert(!lake.ingestExactlyOnce(batch, "sink-t", 7L))
  }

  test("a torn sidecar version holding a sink batch refuses the replay loudly; with it removed the replay lands one copy") {
    val loc = tmp() + "/lake"
    val fs = fsOf(loc)
    val lake = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
    val batch = Seq(
      (Seq(1f, 0f, 0f, 0f), "p"), (Seq(0f, 1f, 0f, 0f), "q")).toDF("vector", "document")
    assert(lake.ingestExactlyOnce(batch, "sink-tl", 7L))
    val torn = lake.read().inputFiles.map(new Path(_))
    // the commit version tears: the previous version is served, with
    // the current tree (the batch's files among it) resolved by listing,
    // and the batch not recorded — a replay would land it twice
    val newest = newestSidecar(loc)
    val body = ControlFiles.readControlFile(fs, newest)
    val out = fs.create(newest, true)
    try out.write(body.take(body.length / 2).getBytes("UTF-8")) finally out.close()
    val e = intercept[java.util.ConcurrentModificationException](
      lake.ingestExactlyOnce(batch, "sink-tl", 7L))
    assert(e.getMessage.contains(newest.getName) && e.getMessage.contains("torn"))
    assert(lake.read().count() === 2, "the refused replay wrote nothing")
    // the documented heal: delete the torn version
    fs.delete(newest, false)
    assert(lake.ingestExactlyOnce(batch, "sink-tl", 7L))
    assertOneCopyThenSwept(lake, Array("p", "q"), torn)
  }

  test("sink identity migration: a ledger committed under the raw path spelling is adopted, not restarted") {
    val loc = tmp() + "/lake"
    val cp = tmp() + "/cp" // raw spelling; normalization prepends file://
    val lake = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
    val batch = Seq((Seq(1f, 0f, 0f, 0f), "m0")).toDF("vector", "document")
    // a pre-normalization deployment committed batch 0 under the
    // VERBATIM checkpoint string
    assert(lake.ingestExactlyOnce(batch, cp, 0L))
    assert(lake.read().count() === 1)
    // the upgraded sink must bind to that ledger: the replayed head
    // batch (crash in the addBatch->commit-log window) is a no-op, not
    // a duplicate ingest under a fresh normalized identity
    val ds = new GraftDataSource
    val sink = ds.createSink(spark.sqlContext,
      Map("path" -> loc, "dim" -> "4", "numHashes" -> "2",
        "checkpointLocation" -> cp), Nil, OutputMode.Append())
      .asInstanceOf[graft.sources.GraftSink]
    sink.addBatch(0L, batch)
    assert(lake.read().count() === 1, "replayed head must not duplicate")
    // and the adopted identity keeps advancing under the same ledger
    sink.addBatch(1L, Seq((Seq(0f, 1f, 0f, 0f), "m1")).toDF("vector", "document"))
    assert(lake.read().count() === 2)
    assert(lake.hasSinkLedger(cp), "the raw-spelling ledger stays the identity")
  }

  test("sink identity normalizes checkpoint path spellings (trailing slash, scheme, duplicate separators)") {
    val base = GraftDataSource.normalizeCheckpointId(spark, "/tmp/graft_cp_x")
    assert(GraftDataSource.normalizeCheckpointId(spark, "/tmp/graft_cp_x/") === base)
    assert(GraftDataSource.normalizeCheckpointId(spark, "/tmp//graft_cp_x") === base)
    assert(GraftDataSource.normalizeCheckpointId(spark, "file:/tmp/graft_cp_x") === base)
    assert(GraftDataSource.normalizeCheckpointId(spark, "file:///tmp/graft_cp_x") === base)
    // distinct checkpoints stay distinct
    assert(GraftDataSource.normalizeCheckpointId(spark, "/tmp/graft_cp_y") !== base)
  }

  test("lakes the earlier ledger protocol wrote: a legacy ledger name is the head, a legacy pend marker refuses its batch") {
    val loc = tmp() + "/lake"
    val fs = fsOf(loc)
    val lake = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
    val batch = Seq((Seq(1f, 0f, 0f, 0f), "z")).toDF("vector", "document")
    lake.ingest(batch)
    val idHex = Lake.sinkIdHex("sink-z")
    // the earlier protocol's ledger: only the NAME is read
    fs.create(new Path(loc, s"_sink.$idHex.3.json"), true).close()
    assert(lake.hasSinkLedger("sink-z"))
    assert(!lake.ingestExactlyOnce(batch, "sink-z", 3L), "the legacy head replays as a no-op")
    intercept[IllegalArgumentException](lake.ingestExactlyOnce(batch, "sink-z", 2L))
    // a crashed attempt's pend marker for the batch being written: its
    // files may be committed without a ledger entry — refuse, naming
    // the marker and the attempt's file prefix
    val pend = new Path(loc, s"_append.$idHex-4-cafe0001.lock")
    fs.create(pend, true).close()
    try {
      val e = intercept[IllegalStateException](lake.ingestExactlyOnce(batch, "sink-z", 4L))
      assert(e.getMessage.contains(pend.getName) && e.getMessage.contains(s"sink-$idHex-4-"))
      assert(lake.read().count() === 1, "refused attempt must publish nothing")
    } finally fs.delete(pend, false)
    assert(lake.ingestExactlyOnce(batch, "sink-z", 4L))
    assert(lake.read().count() === 2)
    // the new head lives in the sidecar; the legacy name stays behind it
    assert(!lake.ingestExactlyOnce(batch, "sink-z", 4L))
    intercept[IllegalArgumentException](lake.ingestExactlyOnce(batch, "sink-z", 3L))
  }

  test("the sink head survives every rewriting commit: compact, compactIncremental, seal, deleteIds, upsert, expire, a reshard step, vacuum") {
    val loc = tmp() + "/lake"
    var lake = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
    val rng = new scala.util.Random(3)
    def plain(tag: String, n: Int) = (0 until n)
      .map(i => (s"$tag-$i", Seq.fill(4)(rng.nextGaussian().toFloat), s"$tag $i"))
      .toDF("id", "vector", "document")
    // several files per shard, so compactIncremental has work
    (0 until 3).foreach(i => lake.ingest(plain(s"p$i", 12)))
    lake.ingest(Seq(("old", Seq(1f, 1f, 0f, 0f), "old", "2001-01-01 00:00:00"))
      .toDF("id", "vector", "document", "timestamp"))
    val (a0, b0) = (plain("a0", 4), plain("b0", 4))
    assert(lake.ingestExactlyOnce(a0, "sink-a", 0L))
    assert(lake.ingestExactlyOnce(b0, "sink-b", 0L))
    assert(lake.ingestExactlyOnce(plain("b1", 4), "sink-b", 1L))
    var rows = 37L + 12L
    assert(lake.count() === rows)
    // sink-a's head is batch 0, sink-b's is batch 1
    def heads(op: String): Unit = {
      assert(!lake.ingestExactlyOnce(a0, "sink-a", 0L), s"after $op: batch 0 replayed")
      val e = intercept[IllegalArgumentException](lake.ingestExactlyOnce(b0, "sink-b", 0L))
      assert(e.getMessage.contains("wiped checkpoint"), s"after $op: ${e.getMessage}")
      assert(lake.count() === rows, s"after $op: rows changed")
    }
    def committed(op: String)(body: => Any): Unit = {
      val before = lake.currentVersion()
      body
      assert(lake.currentVersion() !== before, s"$op committed no version")
      heads(op)
    }
    committed("compactIncremental")(assert(lake.compactIncremental(maxFilesPerShard = 1) > 0L))
    committed("compact")(lake.compact())
    committed("seal")(lake.seal())
    committed("deleteIds") { assert(lake.deleteIds(Seq("p0-0")) === 1L); rows -= 1 }
    committed("upsert")(assert(lake.upsert(plain("p1", 1)) === 1L))
    committed("expire") {
      val (retired, rewritten) = lake.expire(java.time.Instant.parse("2002-01-01T00:00:00Z"))
      assert(retired + rewritten === 1L); rows -= 1
    }
    committed("a reshard step") {
      lake = lake.reshard(3, maxDirs = 1, dirsPerCommit = 1)
      assert(lake.reshardStatus().exists(_._3 > 0L), "the reshard is still in flight")
    }
    lake.vacuum()
    heads("vacuum")
  }

  test("two concurrent attempts of the SAME batch converge to one copy (refusal or ledger arbitration)") {
    val loc = tmp() + "/lake"
    val lake = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
    val batch = Seq(
      (Seq(1f, 0f, 0f, 0f), "r0"), (Seq(0f, 1f, 0f, 0f), "r1"),
      (Seq(0f, 0f, 1f, 0f), "r2")).toDF("vector", "document")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // race outcomes, all acceptable: one attempt refuses on the other's
    // fresh marker (CME), or both publish and the ledger create picks
    // the winner while the loser removes its own attempt-tagged files.
    // What must NEVER vary: exactly one copy of the batch afterwards.
    val results = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(Seq.fill(2)(scala.concurrent.Future(
        try Right(lake.ingestExactlyOnce(batch, "race-sink", 0L))
        catch { case e: java.util.ConcurrentModificationException => Left(e) }))),
      scala.concurrent.duration.Duration(180, "s"))
    pool.shutdown()
    val committed = results.collect { case Right(true) => () }.size
    assert(committed >= 1, s"someone must commit the batch: $results")
    assert(lake.read().count() === 3, "exactly one copy of the batch")
    assert(lake.read().select("document").as[String].collect().sorted ===
      Array("r0", "r1", "r2"))
    // the ledger holds the batch; a later replay skips
    assert(!lake.ingestExactlyOnce(batch, "race-sink", 0L))
    // no markers left behind; maintenance proceeds
    lake.compact()
  }

  test("a stranded pend marker blocks maintenance (crashed sink batch = crashed append)") {
    val loc = tmp() + "/lake"
    val lake = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
    lake.ingest(Seq((Seq(1f, 0f, 0f, 0f), "x")).toDF("vector", "document"))
    val pend = new Path(loc, s"_append.${Lake.sinkIdHex("s")}-0-feed0002.lock")
    fsOf(loc).create(pend, true).close()
    try {
      val e = intercept[java.util.ConcurrentModificationException](lake.compact())
      assert(e.getMessage.contains("append"))
    } finally fsOf(loc).delete(pend, false)
    lake.compact() // and clears once the marker is gone
  }

  test("createSink refusals: output mode, partitionBy, missing checkpoint") {
    val loc = tmp() + "/lake"
    val ds = new GraftDataSource
    val params = Map("path" -> loc, "dim" -> "4", "checkpointLocation" -> (tmp() + "/cp"))
    intercept[IllegalArgumentException](
      ds.createSink(spark.sqlContext, params, Nil, OutputMode.Update()))
    intercept[IllegalArgumentException](
      ds.createSink(spark.sqlContext, params, Seq("shard"), OutputMode.Append()))
    intercept[IllegalArgumentException](
      ds.createSink(spark.sqlContext, Map("path" -> loc, "dim" -> "4"),
        Nil, OutputMode.Append()))
    // and the happy path constructs
    ds.createSink(spark.sqlContext, params, Nil, OutputMode.Append())
  }

  test("sink batches flow through the shared derive path: evolved columns land, pre-evolve rows null-fill") {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val loc = tmp() + "/lake"
    val lake = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
    lake.ingest(Seq((Seq(1f, 0f, 0f, 0f), "a")).toDF("vector", "document"))
    lake.evolve(StructType(Seq(StructField("quality", DoubleType))))
    assert(lake.ingestExactlyOnce(
      Seq((Seq(0f, 1f, 0f, 0f), "b", 0.9)).toDF("vector", "document", "quality"),
      "sink-e", 0L))
    val got = lake.read().select("document", "quality").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got === Map("a" -> None, "b" -> Some(0.9)))
  }

  test("the full SQL-surface loop: readStream(graft-changes) -> writeStream(graft) replicates a lake") {
    val srcLoc = tmp() + "/src"
    val dstLoc = tmp() + "/dst"
    val cp = tmp() + "/cp"
    val src = Lake(spark, LakeConfig(srcLoc, dim = 4, numHashes = 2))
    src.ingest(Seq(
      (Seq(1f, 0f, 0f, 0f), "a"), (Seq(0f, 1f, 0f, 0f), "b"),
      (Seq(0f, 0f, 1f, 0f), "c")).toDF("vector", "document"))

    val q = spark.readStream.format("graft-changes")
      .option("location", srcLoc).option("dim", "4").option("numHashes", "2")
      .load()
      .where($"change" === "insert")
      .select("vector", "document", "metadata", "timestamp")
      .writeStream.format("graft")
      .option("path", dstLoc)
      .option("checkpointLocation", cp)
      .option("dim", "4").option("numHashes", "2")
      .start()
    try {
      q.processAllAvailable()
      src.ingest(Seq((Seq(0f, 0f, 0f, 1f), "d")).toDF("vector", "document"))
      q.processAllAvailable()
    } finally q.stop()

    val dst = Lake(spark, LakeConfig(dstLoc, dim = 4, numHashes = 2))
    assert(dst.read().select("document").as[String].collect().toSet ===
      Set("a", "b", "c", "d"))
    // routing matches the source lake's (same planes, same dims)
    val bySrc = src.read().select("document", "shard")
      .as[(String, Int)].collect().toMap
    val byDst = dst.read().select("document", "shard")
      .as[(String, Int)].collect().toMap
    assert(bySrc === byDst)
  }
}
