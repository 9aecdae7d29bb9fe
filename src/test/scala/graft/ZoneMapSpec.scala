package graft

import java.nio.file.Files
import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The per-file timestamp zone map: time-window reads open only the
  * files whose committed [min, max] `timestamp` can intersect the
  * window, stay exactly equal to the unpruned filtered read through
  * appends / rewrites / files without stats, and never go wrong —
  * files are immutable, so a committed range never stales; a file
  * without stats is merely scanned. */
class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private def ts(day: Int): java.sql.Timestamp =
    java.sql.Timestamp.from(Instant.ofEpochSecond(day.toLong * 86400))
  private def inst(day: Int): Instant = Instant.ofEpochSecond(day.toLong * 86400)

  /** One day's batch: 8 rows, distinct vectors, all stamped `day`. */
  private def batch(day: Int) =
    (0 until 8).map { i =>
      (s"d$day-r$i", Seq(math.sin(day * 10 + i).toFloat,
        math.cos(day * 3 + i).toFloat, (i - 4).toFloat / 4), s"doc $day $i", ts(day))
    }.toDF("id", "vector", "document", "timestamp")

  private def freshLake(): Lake = {
    val dir = Files.createTempDirectory("graft_zone").toString
    Lake(spark, LakeConfig(s"$dir/lake", dim = 3, numHashes = 2))
  }

  /** Commit a copy of the newest sidecar as the next version, with the
    * zone stats of every file `strip` selects removed: those files are
    * in the lake without stats. */
  private def stripStats(lake: Lake)(strip: Lake.ZoneStats => Boolean): Unit = {
    val root = new Path(lake.cfg.location)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (v, newest) = Lake.metaVersionsFrom(fs.listStatus(root).toSeq).maxBy(_._1)
    val sc = ControlFiles.read[ControlFiles.LakeSidecar](fs, newest)
    val stripped = sc.files.map(_.map(e => e.copy(fz = e.fz.map(_.split(";", -1)
      .map(z => if (ControlFiles.FileEntry.zoneOf(z).exists(strip)) "" else z)
      .mkString(";")))))
    assert(stripped != sc.files, "the fixture must strip some file's stats")
    ControlFiles.write(fs, new Path(root, s"_meta.${v + 1}.json"),
      sc.copy(files = stripped), overwrite = false)
  }

  /** Epoch microseconds of day `d`, the unit zone stats carry. */
  private def micros(day: Int): Long = day.toLong * 86400L * 1000000L

  /** Spark jobs `op` starts (the RewriteJobsSpec pattern: a job group
    * and a listener, counted after the listener bus drains). */
  private def jobsOf[A](op: => A): (A, Int) = {
    val group = s"zone-jobs-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "zone job count")
    try {
      val out = op
      org.apache.spark.ListenerBusDrain(sc)
      (out, n.get)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  private def windowRows(lake: Lake, lo: Int, hi: Int) =
    lake.readTimeRange(inst(lo), inst(hi))
      .select("id").collect().map(_.getString(0)).toSet
  private def fullRows(lake: Lake, lo: Int, hi: Int) =
    lake.read().where(col("timestamp").between(ts(lo), ts(hi)))
      .select("id").collect().map(_.getString(0)).toSet

  test("a supplied ingest timestamp SURVIVES; absent or null falls back to now()") {
    val lake = freshLake()
    lake.ingest(batch(5))
    val stored = lake.read().select("id", "timestamp").collect()
      .map(r => r.getString(0) -> r.getTimestamp(1)).toMap
    assert(stored("d5-r0") === ts(5), "explicit event time must be stored")
    lake.ingest(Seq(("now-row", Seq(1f, 1f, 1f), "d"))
      .toDF("id", "vector", "document"))
    val auto = lake.read().where(col("id") === "now-row")
      .select("timestamp").head().getTimestamp(0)
    assert(math.abs(auto.getTime - System.currentTimeMillis()) < 600000L,
      "absent timestamp must default to ingest time")
    // a NUMERIC timestamp column is refused (epoch unit is ambiguous —
    // a millis source cast as seconds lands ~50,000 years out silently)
    val e = intercept[IllegalArgumentException](lake.ingest(
      Seq(("num-row", Seq(1f, 0f, 0f), "d", 1700000000000L))
        .toDF("id", "vector", "document", "timestamp")))
    assert(e.getMessage.contains("timestamp_seconds"))
  }

  test("window reads prune to the window's files and equal the unpruned filtered read") {
    val lake = freshLake()
    (1 to 4).foreach(d => lake.ingest(batch(d)))
    assert(lake.buildZoneMap() > 0L)
    // correctness: every window, pruned == full
    Seq((1, 1), (2, 3), (1, 4), (5, 9)).foreach { case (lo, hi) =>
      assert(windowRows(lake, lo, hi) === fullRows(lake, lo, hi),
        s"window [$lo,$hi] must match the unpruned read")
    }
    assert(windowRows(lake, 2, 2) === batch(2).select("id").collect()
      .map(_.getString(0)).toSet)
    // pruning: the one-day window must open strictly fewer files than
    // the lake holds, and none of them may be provably outside the
    // window per the map
    val pruned = lake.readTimeRange(inst(2), inst(2))
    val prunedFiles = pruned.inputFiles.toSet
    val allFiles = lake.read().inputFiles.toSet
    assert(prunedFiles.nonEmpty && prunedFiles.size < allFiles.size,
      s"expected a strict file cut: ${prunedFiles.size} of ${allFiles.size}")
    // an empty window opens NO files
    assert(lake.readTimeRange(inst(50), inst(60)).inputFiles.isEmpty)
    assert(windowRows(lake, 50, 60) === Set.empty[String])
  }

  test("appends refresh the map; an unmapped file is scanned, never dropped") {
    val lake = freshLake()
    (1 to 2).foreach(d => lake.ingest(batch(d)))
    assert(lake.buildZoneMap() > 0L)
    // append AFTER the build: the ingest-side refresh must map the new
    // files with no manual rebuild — day 3's window still prunes day 1/2
    lake.ingest(batch(3))
    assert(windowRows(lake, 3, 3) === fullRows(lake, 3, 3))
    val d3 = lake.readTimeRange(inst(3), inst(3))
    assert(d3.inputFiles.toSet.size < lake.read().inputFiles.toSet.size,
      "post-build appends must be mapped (else day 3 reads everything)")
    // sabotage: a sidecar copy without day 3's stats — its files are
    // UNMAPPED and must be scanned unconditionally (correct, unpruned)
    val day1Files = lake.readTimeRange(inst(1), inst(1)).inputFiles.toSet
    stripStats(lake)(_.maxTs.exists(_ >= micros(3)))
    assert(lake.readTimeRange(inst(1), inst(1)).inputFiles.toSet ===
      day1Files ++ d3.inputFiles.toSet,
      "unmapped files must be opened by every window")
    assert(windowRows(lake, 3, 3) === fullRows(lake, 3, 3),
      "unmapped files must still be scanned")
    assert(windowRows(lake, 1, 1) === fullRows(lake, 1, 1))
  }

  test("rewrites and compaction keep window reads exact; rewritten files get re-mapped") {
    val lake = freshLake()
    (1 to 3).foreach(d => lake.ingest(batch(d)))
    assert(lake.buildZoneMap() > 0L)
    // a delete rewrites its shards: new file names, old entries dead
    assert(lake.deleteWhere(col("id") === "d2-r0") === 1L)
    Seq((1, 1), (2, 2), (3, 3), (1, 3)).foreach { case (lo, hi) =>
      assert(windowRows(lake, lo, hi) === fullRows(lake, lo, hi),
        s"window [$lo,$hi] after deleteWhere")
    }
    assert(!windowRows(lake, 2, 2).contains("d2-r0"))
    // the rewrite-side refresh re-mapped the new files: day 1 alone
    // still opens fewer files than the lake holds
    assert(lake.readTimeRange(inst(1), inst(1)).inputFiles.toSet.size <
      lake.read().inputFiles.toSet.size)
    // full compact rewrites EVERY file; the refresh re-maps them all.
    // Compacted files MIX the days (each spans [1,3]), so a day window
    // legitimately prunes nothing — the re-mapping proof is a window
    // OUTSIDE the lake's whole range opening ZERO files (unmapped
    // files would all be scanned)
    lake.compact()
    Seq((1, 1), (2, 2), (1, 3)).foreach { case (lo, hi) =>
      assert(windowRows(lake, lo, hi) === fullRows(lake, lo, hi),
        s"window [$lo,$hi] after compact")
    }
    assert(lake.readTimeRange(inst(50), inst(60)).inputFiles.isEmpty,
      "compact's rewrite must be re-mapped, not degrade to a full scan")
    // rebuild compacts dead entries away and stays correct
    assert(lake.buildZoneMap() > 0L)
    assert(windowRows(lake, 2, 2) === fullRows(lake, 2, 2))
  }

  test("topKInRange: freshness-scoped kNN equals the filtered exact answer and cuts files by BOTH window and shard") {
    val lake = freshLake()
    (1 to 4).foreach(d => lake.ingest(batch(d)))
    assert(lake.buildZoneMap() > 0L)
    val q = Seq(math.sin(25.0), math.cos(7.0), -0.5) // near day 2's rows
    val routed = lake.lsh.shardOf(q)
    def filteredTwin(lo: Int, hi: Int, shards: Seq[Int]) =
      lake.topKFiltered(q, 3,
        col("timestamp").between(ts(lo), ts(hi)) &&
          col("shard").isin(shards: _*))
        .select("id", "dist").collect().map(r => (r.getString(0), r.getDouble(1)))
    // single-probe answer == the unpruned filtered exact answer
    val got = lake.topKInRange(q, 3, inst(2), inst(3))
    assert(got.select("id", "dist").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq ===
      filteredTwin(2, 3, Seq(routed)).toSeq)
    // the full Hamming<=1 ladder == the filtered multiprobe set
    val ladder = routed +: (0 until 2).map(j => routed ^ (1 << j))
    val gotMp = lake.topKInRange(q, 3, inst(2), inst(3), nprobe = 3)
    assert(gotMp.select("id", "dist").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq ===
      filteredTwin(2, 3, ladder).toSeq)
    // BOTH cuts show in files opened: fewer than the window-only read
    // (shard cut) and fewer than the whole lake (window cut)
    val inRangeFiles = got.inputFiles.toSet
    assert(inRangeFiles.size < lake.readTimeRange(inst(2), inst(3))
      .inputFiles.toSet.size, "the shard cut must drop window files")
    assert(inRangeFiles.size < lake.read().inputFiles.toSet.size)
    // an empty window answers empty and opens nothing
    assert(lake.topKInRange(q, 3, inst(50), inst(60)).count() === 0L)
    assert(lake.topKInRange(q, 3, inst(50), inst(60)).inputFiles.isEmpty)
  }

  test("field zone map: readFieldRange prunes by a nested numeric field's per-file range; refreshes carry the spec") {
    val dir = Files.createTempDirectory("graft_zone_field").toString
    val lake = Lake(spark, LakeConfig(s"$dir/lake", dim = 3, numHashes = 2))
    // each batch's `q` field occupies a distinct band, so per-file
    // (min, max) ranges separate cleanly
    def batchQ(band: Int) = (0 until 8).map { i =>
      val q = band * 100 + i
      (s"b$band-$i", Seq(math.sin(band * 9 + i).toFloat, 1f, -0.2f * i),
        s"doc $band $i", s"""{"q": $q, "tag": "t$band"}""")
    }.toDF("id", "vector", "document", "metadata_json")
    (1 to 3).foreach(b => lake.ingest(batchQ(b)))
    assert(lake.buildZoneMap(fields = Seq("q")) > 0L)
    def fieldRows(lo: Double, hi: Double) =
      lake.readFieldRange("q", lo, hi)
        .select("id").collect().map(_.getString(0)).toSet
    def fullRows(lo: Double, hi: Double) =
      lake.read().where(lake.metadataField("q").cast("double").between(lo, hi))
        .select("id").collect().map(_.getString(0)).toSet
    // correctness across bands; pruning on a one-band window
    Seq((100.0, 199.0), (150.0, 250.0), (0.0, 999.0)).foreach { case (lo, hi) =>
      assert(fieldRows(lo, hi) === fullRows(lo, hi), s"field window [$lo,$hi]")
    }
    val band2 = lake.readFieldRange("q", 200.0, 299.0)
    assert(band2.inputFiles.toSet.size < lake.read().inputFiles.toSet.size,
      "a one-band field window must open fewer files")
    // a post-build append commits its files' ranges of the mapped
    // field (the sidecar's zone_fields) — band 4 is pruned-read
    // correctly and band 1 windows don't open its files
    lake.ingest(batchQ(4))
    assert(fieldRows(400.0, 499.0) === fullRows(400.0, 499.0))
    assert(lake.readFieldRange("q", 400.0, 499.0).inputFiles.toSet.size <
      lake.read().inputFiles.toSet.size,
      "post-build appends must carry the field ranges")
    // SABOTAGE: a sidecar copy without band 5's stats — those files
    // must be SCANNED by field reads, never pruned
    lake.ingest(batchQ(5))
    stripStats(lake)(_.fields.exists(_._1.exists(_ >= 500.0)))
    assert(fieldRows(500.0, 599.0) === fullRows(500.0, 599.0),
      "files without stats must be scanned, not pruned")
    assert(lake.readFieldRange("q", 100.0, 199.0).inputFiles.toSet
      .intersect(lake.readFieldRange("q", 500.0, 599.0).inputFiles.toSet).nonEmpty,
      "files without stats are opened by every field window")
    assert(fieldRows(100.0, 199.0) === fullRows(100.0, 199.0))
    // an UNMAPPED path falls back to the plain filtered read — same rows
    assert(lake.readFieldRange("tag_len_never_mapped", 0, 9).count() === 0L)
    // rows whose field is absent/non-numeric never match, both paths
    lake.ingest(Seq(("no-q", Seq(0.5f, 0.5f, 0.5f), "d", """{"tag": "x"}"""))
      .toDF("id", "vector", "document", "metadata_json"))
    assert(!fieldRows(0.0, 9999.0).contains("no-q"))
    assert(fieldRows(0.0, 9999.0) === fullRows(0.0, 9999.0))
    // REWRITES: deleteWhere and a full compact commit their new files
    // with the mapped field's ranges — field reads stay exact, and a band
    // outside the whole value space still opens zero files after the
    // compact rewrote every file
    assert(lake.deleteWhere(col("id") === "b2-0") === 1L)
    Seq((100.0, 199.0), (200.0, 299.0), (400.0, 499.0)).foreach {
      case (lo, hi) =>
        assert(fieldRows(lo, hi) === fullRows(lo, hi),
          s"field window [$lo,$hi] after deleteWhere")
    }
    assert(!fieldRows(200.0, 299.0).contains("b2-0"))
    lake.compact()
    assert(fieldRows(100.0, 999.0) === fullRows(100.0, 999.0))
    assert(lake.readFieldRange("q", 5000.0, 6000.0).inputFiles.isEmpty,
      "compact's rewrite must re-map the field ranges, not degrade to scan")
  }

  test("a MALFORMED string timestamp fails the ingest loudly; parseable strings and nulls still work") {
    val lake = freshLake()
    // parseable string → stored as its event time (the survival contract)
    lake.ingest(Seq(("s-row", Seq(1f, 0f, 0f), "d", "1970-01-06 00:00:00"))
      .toDF("id", "vector", "document", "timestamp"))
    assert(lake.read().where(col("id") === "s-row")
      .select("timestamp").head().getTimestamp(0) === ts(5))
    // NULL value → defaults to now() (only absent/null are defaulted)
    lake.ingest(Seq(("n-row", Seq(0f, 1f, 0f), "d", null: String))
      .toDF("id", "vector", "document", "timestamp"))
    val auto = lake.read().where(col("id") === "n-row")
      .select("timestamp").head().getTimestamp(0)
    assert(math.abs(auto.getTime - System.currentTimeMillis()) < 600000L)
    // malformed → LOUD per-row refusal, never a silent rewrite of the
    // event time to ingest time (which would corrupt readTimeRange
    // semantics for backfills)
    val before = lake.read().count()
    val e = intercept[Throwable](lake.ingest(
      Seq(("bad-row", Seq(0f, 0f, 1f), "d", "06/01/1970 about noonish"))
        .toDF("id", "vector", "document", "timestamp")))
    var c: Throwable = e; var found = false
    while (c != null && !found) {
      found = Option(c.getMessage).exists(_.contains("unparseable `timestamp`"))
      c = c.getCause
    }
    assert(found, s"expected the unparseable-timestamp refusal, got: $e")
    assert(lake.read().count() === before,
      "a refused ingest must publish nothing (staged write)")
  }

  test("append-heavy lakes keep exact, pruned time and field windows: each append commits its files' stats") {
    val dir = Files.createTempDirectory("graft_zone_appends").toString
    val lake = Lake(spark, LakeConfig(s"$dir/lake", dim = 3, numHashes = 2))
    def batchQ(band: Int) = (0 until 8).map { i =>
      (s"b$band-$i", Seq(math.sin(band * 9 + i).toFloat, 1f, -0.2f * i),
        s"doc $band $i", ts(band), s"""{"q": ${band * 100 + i}}""")
    }.toDF("id", "vector", "document", "timestamp", "metadata_json")
    lake.ingest(batchQ(1))
    assert(lake.buildZoneMap(fields = Seq("q")) > 0L)
    (2 to 7).foreach(b => lake.ingest(batchQ(b)))
    // exactness and pruning after seven appends — time AND field
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getString(0)).toSet
    Seq((1, 2), (4, 4), (1, 7)).foreach { case (lo, hi) =>
      assert(ids(lake.readTimeRange(inst(lo), inst(hi))) ===
        ids(lake.read().where(col("timestamp").between(ts(lo), ts(hi)))),
        s"time window [$lo,$hi] after the appends")
    }
    assert(lake.readTimeRange(inst(4), inst(4)).inputFiles.toSet.size <
      lake.read().inputFiles.toSet.size, "time pruning after the appends")
    assert(ids(lake.readFieldRange("q", 300.0, 399.0)) ===
      ids(lake.read().where(
        lake.metadataField("q").cast("double").between(300.0, 399.0))))
    assert(lake.readFieldRange("q", 300.0, 399.0).inputFiles.toSet.size <
      lake.read().inputFiles.toSet.size, "field pruning after the appends")
  }

  test("a NaN field value does not hide its file: readFieldRange returns the file's in-window rows") {
    val dir = Files.createTempDirectory("graft_zone_nan").toString
    val lake = Lake(spark, LakeConfig(s"$dir/lake", dim = 3, numHashes = 2))
    // one vector for every row: one shard, one file, whose q range is
    // [100, NaN] — Spark orders NaN above every number
    lake.ingest(((0 until 6).map(i => (s"n$i", s"""{"q": ${100 + i}}""")) :+
      ("nan", """{"q": "NaN"}"""))
      .map { case (id, j) => (id, Seq(1f, 0.5f, 0.25f), s"doc $id", j) }
      .toDF("id", "vector", "document", "metadata_json"))
    assert(lake.buildZoneMap(fields = Seq("q")) === 1L)
    val got = lake.readFieldRange("q", 101.0, 103.0)
      .select("id").collect().map(_.getString(0)).toSet
    assert(got === Set("n1", "n2", "n3"))
    assert(got === lake.read().where(lake.metadataField("q").cast("double")
      .between(101.0, 103.0)).select("id").collect().map(_.getString(0)).toSet)
  }

  test("a window outside the data opens zero files after every kind of commit") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.racebucket.impl", classOf[RacingBucketFs].getName)
    val loc = s"racebucket://${Files.createTempDirectory("graft_zone_commits")}/lake"
    var lake = Lake(spark, LakeConfig(loc, dim = 3, numHashes = 2))
    // every live file carries stats: a window past all data opens none
    def noFilesOutside(op: String): Unit = {
      assert(lake.read().inputFiles.nonEmpty, s"after $op: the lake holds no file")
      assert(lake.readTimeRange(inst(50), inst(60)).inputFiles.isEmpty,
        s"after $op: a window outside the data opened files")
    }
    lake.ingest(batch(1))
    assert(lake.buildZoneMap() > 0L)
    lake.seal() // day 1 becomes manifest entries
    noFilesOutside("seal")
    lake.ingest(batch(10))
    noFilesOutside("ingest")
    assert(lake.expire(inst(5)) === ((8L, 0L)), "day 1 retires wholesale")
    noFilesOutside("expire tier 1")
    lake.ingest(batch(11))
    assert(lake.upsert(batch(12).where(col("id") =!= "d12-r7")
      .withColumn("id", regexp_replace(col("id"), "d12", "d10"))) === 7L)
    noFilesOutside("upsert")
    assert(lake.deleteIds(Seq("d11-r0", "d11-r1")) === 2L)
    noFilesOutside("deleteIds")
    lake.ingest(batch(13))
    assert(lake.compactIncremental(maxFilesPerShard = 1) > 0L)
    noFilesOutside("compactIncremental")
    lake.compact()
    noFilesOutside("compact")
    lake.evolve(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType))))
    noFilesOutside("evolve")
    assert(lake.ingestExactlyOnce(batch(14), "zone-sink", 0L))
    noFilesOutside("sink batch")
    // a rival append takes the version this append chose: its commit
    // retries over the rival's version and both land with their stats
    val v0 = lake.currentVersion().get
    RacingBucketFs.rival = () =>
      Lake(spark, LakeConfig(loc, dim = 3, numHashes = 2)).ingest(batch(15))
    try lake.ingest(batch(16)) finally RacingBucketFs.rival = null
    assert(lake.currentVersion().get === v0 + 2)
    noFilesOutside("an append retried over a rival's version")
    val before = lake.read().select("id").collect().map(_.getString(0)).toSet
    lake = lake.reshard(3, dirsPerCommit = 1)
    assert(lake.reshardStatus().isEmpty)
    noFilesOutside("reshard steps")
    assert(lake.read().select("id").collect().map(_.getString(0)).toSet === before)
    assert(windowRows(lake, 10, 16) === fullRows(lake, 10, 16))
  }

  test("a zone-pruned readTimeRange runs no Spark job besides its scan's own") {
    val lake = freshLake()
    (1 to 4).foreach(d => lake.ingest(batch(d)))
    assert(lake.buildZoneMap() > 0L)
    // the verdicts come off the resolved sidecar: planning runs no job
    val (pruned, planJobs) = jobsOf(lake.readTimeRange(inst(2), inst(2)))
    assert(planJobs === 0, s"planning the pruned read ran $planJobs Spark jobs")
    assert(pruned.inputFiles.toSet.size < lake.read().inputFiles.toSet.size)
    val (_, scanJobs) = jobsOf(pruned.collect())
    val (_, plainJobs) = jobsOf(lake.read()
      .where(col("timestamp").between(ts(2), ts(2))).collect())
    assert(scanJobs <= plainJobs,
      s"the pruned read ran $scanJobs Spark jobs, the plain filtered read $plainJobs")
  }

  test("no map, no harm: readTimeRange without buildZoneMap is the plain filtered read") {
    val lake = freshLake()
    (1 to 2).foreach(d => lake.ingest(batch(d)))
    assert(windowRows(lake, 2, 2) === fullRows(lake, 2, 2))
    assert(windowRows(lake, 2, 2).nonEmpty)
  }
}
