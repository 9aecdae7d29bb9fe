package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The one-call maintenance policy: [[Lake.maintain]] reads the lake's
  * own health signals and runs only justified work — a churned lake
  * converges (file counts compacted, skip index fresh, dead generations
  * swept; the zone map rides every commit and needs no step) and a
  * converged lake no-ops. */
class MaintainSpec extends SparkSpec {
  import spark.implicits._

  private def rows(n: Int, tag: String, day: Int) =
    (0 until n).map { i =>
      (s"$tag-$i", Seq(math.sin(i * 3 + tag.length).toFloat,
        math.cos(i * 7).toFloat, (i % 5 - 2).toFloat / 3), s"doc $tag $i",
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(day.toLong * 86400)))
    }.toDF("id", "vector", "document", "timestamp")

  test("a churned lake converges under maintain(); a converged lake no-ops with bounded work") {
    val dir = Files.createTempDirectory("graft_maintain").toString
    val lake = Lake(spark, LakeConfig(s"$dir/lake", dim = 3, numHashes = 2))
    // churn: many tiny appends (file bloat), early indexes, rewrites
    // (dead generations), deletes
    lake.ingest(rows(16, "a", 1))
    assert(lake.buildSkipIndex() > 0L)
    assert(lake.buildZoneMap() > 0L)
    (2 to 7).foreach(d => lake.ingest(rows(4, s"b$d", d)))
    assert(lake.deleteWhere(col("id") === "a-0") === 1L)
    lake.compact(); lake.compact() // each full rewrite strands a dead generation
    (8 to 10).foreach(d => lake.ingest(rows(3, s"c$d", d)))
    val contentBefore = lake.read().select("id").collect().map(_.getString(0)).toSet
    val filesBefore = lake.read().inputFiles.length

    val r1 = lake.maintain(targetBytes = 8L * 1024 * 1024,
      maxFilesPerShard = 1, retainMs = 0L)
    info(s"maintain #1: $r1")
    assert(r1.compactedShards > 0L, "file bloat must justify a compaction")
    assert(r1.vacuumSwept > 0L, "dead generations must be swept")
    // rows untouched, files reduced
    assert(lake.read().select("id").collect().map(_.getString(0)).toSet ===
      contentBefore)
    assert(lake.read().inputFiles.length < filesBefore)
    // health: skip index fresh, audit clean
    val audit = lake.validate().head()
    assert(audit.getAs[Long]("skip_stale") === 0L)
    assert(audit.getAs[Long]("misrouted") === 0L)
    // zone map still serves exact windows after whatever maintain did
    def windowIds(lo: Int, hi: Int) = lake.readTimeRange(
      java.time.Instant.ofEpochSecond(lo.toLong * 86400),
      java.time.Instant.ofEpochSecond(hi.toLong * 86400))
      .select("id").collect().map(_.getString(0)).toSet
    def fullIds(lo: Int, hi: Int) = lake.read()
      .where(col("timestamp").between(
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(lo.toLong * 86400)),
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(hi.toLong * 86400))))
      .select("id").collect().map(_.getString(0)).toSet
    Seq((1, 3), (5, 9)).foreach { case (lo, hi) =>
      assert(windowIds(lo, hi) === fullIds(lo, hi)) }

    // CONVERGENCE: the second call finds nothing justified
    val r2 = lake.maintain(targetBytes = 8L * 1024 * 1024,
      maxFilesPerShard = 1, retainMs = 0L)
    info(s"maintain #2: $r2")
    assert(r2.compactedShards === 0L, "a converged lake must not re-compact")
    assert(!r2.skipRefreshed, "a fresh skip index must not be rebuilt")
    assert(lake.read().select("id").collect().map(_.getString(0)).toSet ===
      contentBefore)
  }

  test("maintain refreshes a STALE skip index (fingerprint drift); the committed zone map needs no rebuild") {
    val dir = Files.createTempDirectory("graft_maintain2").toString
    val lake = Lake(spark, LakeConfig(s"$dir/lake", dim = 3, numHashes = 2))
    lake.ingest(rows(12, "s", 1))
    assert(lake.buildSkipIndex() > 0L)
    assert(lake.buildZoneMap() > 0L)
    // repeated full rewrites FIRST (they also refresh the skip index, so
    // staleness must be manufactured after them)
    (0 until 3).foreach(_ => lake.compact())
    // manufacture skip staleness the way it really arises (the
    // best-effort refresh failed / an out-of-band writer moved files):
    // rename one live data file — the shard's file-set fingerprint no
    // longer matches its sketch
    val fs = new org.apache.hadoop.fs.Path(lake.cfg.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFile = lake.read().inputFiles.head
    val p = new org.apache.hadoop.fs.Path(dataFile)
    assert(fs.rename(p, new org.apache.hadoop.fs.Path(p.getParent,
      "renamed-" + p.getName)))
    // an out-of-band move is part of the lake only where the current
    // generation resolves by listing
    PreRecordingSidecar(spark, lake)
    assert(lake.validate().head().getAs[Long]("skip_stale") > 0L,
      "fixture must actually be stale")
    val r = lake.maintain(retainMs = 0L)
    info(s"maintain: $r")
    assert(r.skipRefreshed, "a stale skip index must be rebuilt")
    // the zone map needs no step: rewrites commit their files' stats
    def day(d: Int) = java.time.Instant.ofEpochSecond(d.toLong * 86400)
    assert(lake.readTimeRange(day(1), day(1)).count() === lake.read().count())
    assert(lake.readTimeRange(day(2), day(9)).count() === 0L)
    assert(lake.validate().head().getAs[Long]("skip_stale") === 0L)
    // both indexes still serve exactly
    val present = lake.read().select("id").collect().map(_.getString(0)).take(3)
    val got = lake.lookup(present.toSeq).select("id").collect()
      .map(_.getString(0)).toSet
    assert(got === present.toSet)
    val r2 = lake.maintain(retainMs = 0L)
    assert(!r2.skipRefreshed && r2.compactedShards === 0L,
      s"converged after one call, got $r2")
  }

  test("shard-health signals: skew telemetry in every report, reshard_recommended fires on an oversized shard") {
    val dir = Files.createTempDirectory("graft_maintain_skew").toString
    val lake = Lake(spark, LakeConfig(s"$dir/lake", dim = 3, numHashes = 2))
    // a DELIBERATELY skewed lake: one hot shard, a thin spread over at
    // least two more (median must come from a cold shard, so the
    // fixture picks representatives per shard via the router itself)
    import spark.implicits._
    val router = graft.functions.Lsh(dim = 3, numHashes = 2)
    val rnd = new scala.util.Random(5)
    val reps = Iterator.continually(Seq.fill(3)(rnd.nextGaussian()))
      .take(500).toSeq.groupBy(router.shardOf).values.map(_.head).take(3).toSeq
    assert(reps.size >= 3, "router fixture must span 3 shards")
    val hot = (0 until 600).map(i =>
      (s"hot-$i", reps(0).map(_.toFloat), s"hot doc $i"))
    val cold = reps.drop(1).zipWithIndex.flatMap { case (v, j) =>
      (0 until 3).map(i => (s"cold-$j-$i", v.map(_.toFloat), s"cold $j $i")) }
    lake.ingest((hot ++ cold).toDF("id", "vector", "document"))

    // telemetry rides every report; the verdict is threshold-driven
    val quiet = lake.maintain(retainMs = 0L) // default 8 GiB target
    assert(quiet.maxShardBytes > 0L && quiet.medianShardBytes > 0L)
    assert(quiet.maxShardBytes > quiet.medianShardBytes,
      s"the hot shard must dominate, got $quiet")
    assert(!quiet.reshardRecommended, "a toy lake never crosses 8 GiB")
    val loud = lake.maintain(retainMs = 0L, targetShardBytes = 1024L)
    assert(loud.reshardRecommended && loud.maxShardBytes > 1024L,
      s"the oversized-shard signal must fire under a 1 KiB target, got $loud")

    // validate() carries the same skew columns
    val v = lake.validate().collect().head
    assert(v.getAs[Long]("max_shard_bytes") === loud.maxShardBytes)
    assert(v.getAs[Long]("median_shard_bytes") === loud.medianShardBytes)
    assert(!v.getAs[Boolean]("reshard_recommended"))
    assert(v.getAs[Long]("reshard_pending_dirs") === 0L)

    // MID-RESHARD: maintain stays a useful health probe — structural
    // steps skip quietly, the pending count reports progress, and the
    // recommendation stays down (the work is already running)
    val mid = lake.reshard(3, maxDirs = 1, dirsPerCommit = 1)
    val midReport = mid.maintain(retainMs = 0L, targetShardBytes = 1L)
    assert(midReport.reshardPendingDirs > 0L, s"got $midReport")
    assert(!midReport.reshardRecommended)
    assert(midReport.compactedShards === 0L && !midReport.skipRefreshed)
    val fin = mid.reshard(3)
    val finReport = fin.maintain(retainMs = 0L, targetShardBytes = 1L)
    assert(finReport.reshardPendingDirs === 0L && finReport.reshardRecommended)
  }
}
