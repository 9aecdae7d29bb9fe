package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

object RacingBucketFs {
  /** When set, the next `_meta.<v>.json` create first runs this rival
    * (another append to the same lake), which takes that very version —
    * the interleave of two appenders racing for one sidecar version. */
  @volatile var rival: () => Unit = null
}

/** [[BucketFs]] (copy+delete rename, exclusive create) that lets a rival
  * append land the version an appender is about to create. */
class RacingBucketFs extends BucketFs {
  override def getScheme: String = "racebucket"
  override def getUri: java.net.URI = java.net.URI.create("racebucket:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    val r = RacingBucketFs.rival
    if (r != null && Lake.metaNameRe.pattern.matcher(f.getName).matches()) {
      RacingBucketFs.rival = null
      r()
    }
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object GateFs {
  val armed = new AtomicBoolean(false)
  @volatile var started = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
}

/** [[BucketFs]] that, when armed, stops the next data file written in a
  * generation tree half-written until released: its leading magic bytes
  * are on disk, its row groups and footer are not — an append caught in
  * the middle of writing its files at their final names. */
class GateFs extends BucketFs {
  override def getScheme: String = "gatefs"
  override def getUri: java.net.URI = java.net.URI.create("gatefs:///")
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    val raw = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    if (!f.toString.matches(".*/gen-\\d+/.*\\.parquet")) raw
    else new org.apache.hadoop.fs.FSDataOutputStream(
      new java.io.FilterOutputStream(raw) {
        private var written = 0L
        private def gate(): Unit =
          if (written > 0 && GateFs.armed.compareAndSet(true, false)) {
            raw.flush()
            GateFs.started.countDown()
            GateFs.release.await(120, TimeUnit.SECONDS)
          }
        override def write(b: Int): Unit = { gate(); raw.write(b); written += 1 }
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          gate(); raw.write(b, off, len); written += len
        }
        override def close(): Unit = raw.close()
      }, null)
  }
}

object AppendLatch {
  val armed = new AtomicBoolean(false)
  @volatile var started = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
}

/** An append commits by naming its files in a new sidecar version: a
  * file no version names is not part of the lake, two appends racing for
  * one version both land, and a sidecar written before appends committed
  * this way still resolves its current generation by listing. */
class SidecarCommitSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$p").toString

  private def rows(from: Int, to: Int): DataFrame = (from until to)
    .map(i => (s"r$i", Seq(math.sin(i).toFloat, math.cos(i).toFloat,
      (i % 7).toFloat, 1f), s"doc $i"))
    .toDF("id", "vector", "document")

  private def ids(df: DataFrame): Set[String] =
    df.select("id").as[String].collect().toSet

  test("a torn append is invisible to count, routed topK, the graft format and the change feed; vacuum deletes it") {
    val loc = tmp("torn_append") + "/lake"
    val lake = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
    lake.ingest(rows(0, 40))
    val s1 = lake.seal()
    lake.ingest(rows(40, 60))
    // a crashed append: its files sit in current-generation shard
    // directories, and no sidecar names them
    val gen = new Path(lake.currentGenDir)
    val scratch = tmp("torn_rows")
    val batch = col("id").isin((40 until 60).map(i => s"r$i"): _*)
    val shards = lake.read().where(batch)
      .select("shard").as[Int].distinct().collect().toSeq.sorted
    val torn = shards.map { k =>
      val out = s"$scratch/shard-$k"
      lake.read().where(col("shard") === k && batch)
        .withColumn("id", concat(lit("torn-"), col("id"))).drop("shard")
        .coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(s"${gen.toUri.getPath}/shard=$k/part-torn-$k.snappy.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst
    }
    assert(torn.nonEmpty && torn.forall(_.exists()))
    val fresh = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
    assert(fresh.read().count() === 60L)
    assert(!ids(fresh.read()).exists(_.startsWith("torn-")))
    val q = Seq(math.sin(41).toDouble, math.cos(41), 6.0, 1.0)
    val near = ids(fresh.topK(q, 20))
    assert(near.contains("r41") && !near.exists(_.startsWith("torn-")))
    val viaFormat = spark.read.format("graft").load(loc)
    assert(viaFormat.count() === 60L && !ids(viaFormat).exists(_.startsWith("torn-")))
    val s2 = fresh.seal()
    val delta = fresh.changesBetween(s1, s2)
    assert(ids(delta) === (40 until 60).map(i => s"r$i").toSet)
    fresh.vacuum()
    assert(torn.forall(!_.exists()), "vacuum sweeps the files no sidecar names")
    assert(fresh.read().count() === 60L)
  }

  test("two appends racing for one sidecar version both land on file:, the later one by re-reading the newer version") {
    val loc = tmp("race_file") + "/lake"
    val lake = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
    lake.ingest(rows(0, 10))
    val v0 = lake.currentVersion().get
    // the first append blocks inside its write job, after it resolved
    // the lake at v0, until the second append has committed v0 + 1
    val block = udf { (s: String) =>
      if (AppendLatch.armed.compareAndSet(true, false)) {
        AppendLatch.started.countDown()
        AppendLatch.release.await(120, TimeUnit.SECONDS)
      }
      s
    }
    AppendLatch.started = new CountDownLatch(1)
    AppendLatch.release = new CountDownLatch(1)
    AppendLatch.armed.set(true)
    val first = new Thread(() =>
      lake.ingest(rows(10, 20).withColumn("document", block(col("document")))))
    @volatile var failure: Throwable = null
    first.setUncaughtExceptionHandler((_, e) => failure = e)
    first.start()
    try {
      assert(AppendLatch.started.await(120, TimeUnit.SECONDS))
      Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2)).ingest(rows(20, 30))
    } finally AppendLatch.release.countDown()
    first.join(120000L)
    assert(failure == null, s"the blocked append failed: $failure")
    assert(lake.currentVersion().get === v0 + 2)
    // v0 + 1 is the second append's commit alone; v0 + 2 names both
    assert(ids(lake.readAt(v0 + 1)) === (0 until 10).map(i => s"r$i").toSet ++
      (20 until 30).map(i => s"r$i"))
    assert(ids(lake.read()) === (0 until 30).map(i => s"r$i").toSet)
  }

  test("two appends racing for one sidecar version both land on a copy+delete store, the loser by retrying its create") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.racebucket.impl", classOf[RacingBucketFs].getName)
    val loc = s"racebucket://${tmp("race_bucket")}/lake"
    val lake = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
    lake.ingest(rows(0, 10))
    val v0 = lake.currentVersion().get
    // the rival lands version v0 + 1 between the appender's choice of that
    // version and its create
    RacingBucketFs.rival = () =>
      Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2)).ingest(rows(20, 30))
    try lake.ingest(rows(10, 20)) finally RacingBucketFs.rival = null
    assert(lake.currentVersion().get === v0 + 2)
    assert(ids(lake.readAt(v0 + 1)) === (0 until 10).map(i => s"r$i").toSet ++
      (20 until 30).map(i => s"r$i"))
    assert(ids(lake.read()) === (0 until 30).map(i => s"r$i").toSet)
    assert(spark.read.format("graft").load(loc).count() === 30L)
  }

  test("a sidecar written before appends committed through it still reads every row by listing") {
    val loc = tmp("pre_change") + "/lake"
    val lake = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
    lake.ingest(rows(0, 20))
    lake.seal()
    lake.ingest(rows(20, 35))
    lake.ingest(rows(35, 50))
    // the newest sidecar as an older writer left it: the current
    // generation neither recorded nor named
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new Path(loc, s"_meta.${lake.currentVersion().get}.json")
    val sc = ControlFiles.read[ControlFiles.LakeSidecar](fs, p)
    assert(sc.genRecorded.contains(true))
    ControlFiles.write(fs, p, sc.copy(genRecorded = None,
      live = sc.live.filter(_.g != sc.generation),
      files = sc.files.map(_.filter(!_.fg.contains(sc.generation)))), overwrite = true)
    val fresh = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
    assert(ids(fresh.read()) === (0 until 50).map(i => s"r$i").toSet)
    assert(spark.read.format("graft").load(loc).count() === 50L)
    // the next append records what the tree holds, then its own files
    fresh.ingest(rows(50, 55))
    val after = ControlFiles.read[ControlFiles.LakeSidecar](fs,
      new Path(loc, s"_meta.${fresh.currentVersion().get}.json"))
    assert(after.genRecorded.contains(true))
    assert(ids(Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2)).read()) ===
      (0 until 55).map(i => s"r$i").toSet)
  }

  test("two appends racing on a sidecar written before appends committed through it both land in full; neither commits the other's files") {
    spark.sparkContext.hadoopConfiguration.set("fs.gatefs.impl", classOf[GateFs].getName)
    val loc = s"gatefs://${tmp("race_legacy")}/lake"
    val lake = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
    lake.ingest(rows(0, 10))
    PreRecordingSidecar(spark, lake)
    // the first append stops in its write, one of its data files at its
    // final name and half-written
    GateFs.started = new CountDownLatch(1)
    GateFs.release = new CountDownLatch(1)
    GateFs.armed.set(true)
    val first = new Thread(() => lake.ingest(rows(10, 20)))
    @volatile var failure: Throwable = null
    first.setUncaughtExceptionHandler((_, e) => failure = e)
    first.start()
    var second = 0L
    try {
      assert(GateFs.started.await(120, TimeUnit.SECONDS))
      val other = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
      other.ingest(rows(20, 30))
      second = other.currentVersion().get
    } finally GateFs.release.countDown()
    first.join(120000L)
    assert(failure == null, s"the blocked append failed: $failure")
    // the second append's commit names the rows that were there and its
    // own, not the first append's file it could have listed half-written
    assert(ids(lake.readAt(second)) ===
      ((0 until 10) ++ (20 until 30)).map(i => s"r$i").toSet)
    assert(ids(lake.read()) === (0 until 30).map(i => s"r$i").toSet)
    // both versions name every file at its whole written length (a
    // half-written file a listing took up would be named short)
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (v <- Seq(second, lake.currentVersion().get)) {
      val named = ControlFiles.read[ControlFiles.LakeSidecar](fs,
        new Path(loc, s"_meta.$v.json")).toState.liveFiles
      assert(named.nonEmpty)
      for (((d, g), fl) <- named; f <- fl)
        assert(fs.getFileStatus(new Path(s"$loc/gen-$g/$d", f.name)).getLen === f.len,
          s"version $v names $d/${f.name} at its written length")
    }
  }

  test("validate on a recorded lake counts a moved named file as missing and audits the rest; vacuum deletes the moved copy") {
    val loc = tmp("audit_moved") + "/lake"
    val lake = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
    lake.ingest(rows(0, 40))
    assert(lake.validate().head().getAs[Long]("missing_files") === 0L)
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = lake.liveDirPaths().map(_._2).sortBy(_.getName)
    assert(dirs.size > 1)
    val src = fs.listStatus(dirs.head)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet")).head.getPath
    val moved = spark.read.parquet(src.toString).count()
    val copy = new Path(dirs.last, "foreign-" + src.getName)
    assert(fs.rename(src, copy))
    val r = lake.validate().head()
    assert(r.getAs[Long]("rows") === 40L - moved, "the rows of the named files still there")
    assert(r.getAs[Long]("misrouted") === 0L, "the moved copy is not read as rows")
    assert(r.getAs[Long]("missing_files") === 1L)
    lake.vacuum()
    assert(!fs.exists(copy), "no sidecar names the moved copy")
  }

  test("a foreign file in a recorded directory is not audited as rows, and vacuum deletes it") {
    val loc = tmp("audit_foreign") + "/lake"
    val lake = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 2))
    lake.ingest(rows(0, 40))
    val dir = lake.liveDirPaths().head._2
    // right columns, wrong dimension, one rogue column
    Seq(("alien", Seq(1f, 2f, 3f), "wrong dim", 42L))
      .toDF("id", "vector", "document", "rogue_col")
      .write.mode("append").parquet(dir.toString)
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val r = lake.validate().head()
    assert(r.getAs[Long]("rows") === 40L)
    assert(r.getAs[Long]("bad_dim") === 0L)
    assert(r.getAs[Long]("drift_cols") === 0L)
    assert(r.getAs[Long]("missing_files") === 0L)
    assert(!ids(lake.read()).contains("alien"))
    val before = fs.listStatus(dir).count(_.getPath.getName.endsWith(".parquet"))
    lake.vacuum()
    assert(fs.listStatus(dir).count(_.getPath.getName.endsWith(".parquet")) === before - 1,
      "vacuum deletes the one file no sidecar names")
    assert(lake.read().count() === 40L)
    assert(lake.validate().head().getAs[Long]("rows") === 40L)
  }

  test("vacuum looks for unnamed files only in generations current since its last sweep") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingListFs].getName)
    val loc = s"countfs://${tmp("sweep_bound")}/lake"
    val lake = Lake(spark, LakeConfig(loc, dim = 4, numHashes = 4))
    // two sealed generations of 16-shard data, then a small current one
    lake.ingest(rows(0, 200))
    lake.seal()
    lake.ingest(rows(200, 400))
    lake.seal()
    lake.ingest(rows(400, 403))
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = lake.liveDirPaths()
    val cur = new Path(lake.currentGenDir).getName
    val old = entries.map(_._2).filterNot(_.getParent.getName == cur)
    val current = entries.map(_._2).filter(_.getParent.getName == cur)
    assert(old.size > 2 * current.size, s"${old.size} old, ${current.size} current")
    def plant(dir: Path, name: String): Path = {
      val p = new Path(dir, name)
      fs.create(p).close()
      p
    }
    def dataLists(op: => Any): Seq[String] = {
      CountingListFs.listed.clear()
      op
      scala.jdk.CollectionConverters.IteratorHasAsScala(CountingListFs.listed.iterator())
        .asScala.toSeq.filter(_.matches(".*/gen-\\d+(/.*)?"))
    }
    // no marker yet: every recorded directory is looked at
    val stray = plant(old.head, "part-stray.parquet")
    val first = dataLists(lake.vacuum())
    assert(!fs.exists(stray))
    assert(first.size >= old.size + current.size)
    // since then the generation did not roll: only its tree is looked at
    val torn = plant(current.head, "part-torn.parquet")
    val second = dataLists(lake.vacuum())
    assert(!fs.exists(torn))
    assert(second.forall(_.contains(s"/$cur")), second)
    assert(second.size === current.size + 1, second)
    // a converged maintain tick pays the same bound; without the marker
    // the same tick looks at every recorded directory again
    val tick = dataLists(lake.maintain(retainMs = 0L))
    fs.listStatus(new Path(loc)).filter(_.getPath.getName.startsWith("_swept."))
      .foreach(m => fs.delete(m.getPath, false))
    val unbounded = dataLists(lake.maintain(retainMs = 0L))
    info(s"data-tree LISTs: first vacuum ${first.size}, second ${second.size}; " +
      s"converged maintain tick ${tick.size}, ${unbounded.size} without the marker " +
      s"(${old.size} old, ${current.size} current directories)")
    assert(tick.size < unbounded.size)
    assert(lake.read().count() === 403L)
  }
}
