package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.Lsh

/** Incremental LSH reshard ([[Lake.reshard]]): the structural answer
  * to shard count being frozen at creation. The contract under test:
  *
  *  - REFINEMENT EXACTNESS: a resharded lake is row-for-row identical
  *    (including the shard column) to a lake ingested directly at the
  *    new width — routing is deterministic, so the reshard can be
  *    verified against an independent rebuild.
  *  - MID-RESHARD READS: a partially-resharded lake serves every row
  *    at the new width (pending directories re-derive per row), topK
  *    stays correct, appends land between steps, and structural
  *    maintenance / SQL scans are refused loudly.
  *  - RESUMABILITY: steps commit independently; a partial call
  *    resumes; completion drops the reshard fields and rebuilds a
  *    dropped skip index.
  *  - STALE-SESSION SAFETY: a Lake instance at the old width is
  *    refused per-read and per-write after the transition.
  *  - TIME TRAVEL ACROSS WIDTHS: readAt of a pre-reshard version
  *    re-derives to the session's width; the SQL format refuses what
  *    it cannot re-derive.
  */
class ReshardSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 4

  private def rows(n: Int, tag: String = "r") =
    (0 until n).map { i =>
      (s"$tag-$i", Seq(math.sin(i * 1.3).toFloat, math.cos(i * 2.7).toFloat,
        math.sin(i * 0.9 + 1).toFloat, (i % 7 - 3).toFloat / 4), s"doc $i")
    }.toDF("id", "vector", "document")

  private def tmp() = Files.createTempDirectory("graft_reshard").toString

  private def rowSet(l: Lake) =
    l.read().select("id", "shard").as[(String, Int)].collect().toSet

  test("full reshard equals a direct ingest at the new width, row for row including shard") {
    val dir = tmp()
    val old = Lake(spark, LakeConfig(s"$dir/lake", dim = dim, numHashes = 3))
    old.ingest(rows(500))
    def shardRows(l: Lake) = l.read().groupBy("shard").count()
      .as[(Int, Long)].collect().toMap
    val narrowRows = shardRows(old)
    val wide = old.reshard(5)
    assert(wide.cfg.numHashes === 5)
    // each directory splits in place: a width-3 shard's rows are exactly
    // the rows of the width-5 shards whose low 3 bits name it, so no row
    // moves across parents
    val wideRows = shardRows(wide)
    (0 until 8).foreach { s =>
      assert(narrowRows.getOrElse(s, 0L) === wideRows.collect {
        case (w, n) if (w & 7) == s => n }.sum, s"parent shard $s")
    }
    // independent rebuild at width 5 from the same rows
    val direct = Lake(spark, LakeConfig(s"$dir/direct", dim = dim, numHashes = 5))
    direct.ingest(rows(500))
    assert(rowSet(wide) === rowSet(direct))
    assert(wide.read().count() === 500L)
    // validate's misrouted recompute agrees at the new width
    val v = wide.validate().collect().head
    assert(v.getAs[Long]("misrouted") === 0L)
    // single-probe topK at the new width matches the exact scan's head
    val q = Seq(0.3, -0.2, 0.8, 0.1)
    val approx = wide.topK(q, 3).select("id").as[String].collect().toSet
    val shardOfQ = Lsh(dim, 5).shardOf(q)
    val exactInShard = wide.read().where(col("shard") === shardOfQ)
    assert(approx.subsetOf(
      exactInShard.select("id").as[String].collect().toSet))
    // ... and scans only the routed directory at the new width: the
    // probe's scanned rows fall with every added hyperplane
    val scans = fileScansOf(wide.topK(q, 3).queryExecution.executedPlan)
    assert(scans.nonEmpty)
    scans.foreach(_.selectedPartitions.toPartitionArray
      .map(_.filePath.toString)
      .foreach(f => assert(f.contains(s"shard=$shardOfQ/"),
        s"single-probe topK scans $f outside shard=$shardOfQ")))
    // the new sidecar declares the new width; a fresh session at the
    // OLD width is refused at construction-check time
    val staleFresh = Lake(spark, LakeConfig(s"$dir/lake", dim = dim, numHashes = 3))
    val e = intercept[IllegalArgumentException](staleFresh.read())
    assert(e.getMessage.contains("shards"))
  }

  test("mid-reshard: reads serve the new width, appends interleave, maintenance and SQL are refused") {
    val dir = tmp()
    val old = Lake(spark, LakeConfig(s"$dir/lake", dim = dim, numHashes = 3))
    old.ingest(rows(400))
    val preDirs = old.read().select("shard").distinct().count()
    assert(preDirs > 2, "fixture needs several shards")

    // partial reshard: two directories per call, one per commit
    val wide = old.reshard(5, maxDirs = 2, dirsPerCommit = 1)
    // mid-reshard: every row reads at the NEW width
    val direct = Lake(spark, LakeConfig(s"$dir/direct", dim = dim, numHashes = 5))
    direct.ingest(rows(400))
    assert(rowSet(wide) === rowSet(direct))

    // appends land between steps, routed at the new width
    wide.ingest(rows(50, tag = "mid"))
    assert(wide.read().count() === 450L)
    val midRows = wide.read().where(col("id").startsWith("mid-"))
      .select("id", "shard").as[(String, Int)].collect()
    midRows.foreach { case (_, s) => assert(s >= 0 && s < 32) }

    // structural maintenance is refused loudly mid-reshard
    val c = intercept[IllegalStateException](wide.compact())
    assert(c.getMessage.contains("reshard"))
    val s = intercept[IllegalStateException](wide.seal())
    assert(s.getMessage.contains("reshard"))
    val d = intercept[IllegalStateException](
      wide.deleteWhere(col("id") === "r-1"))
    assert(d.getMessage.contains("reshard"))
    // ... and the SQL format refuses (it cannot re-derive dir names)
    val f = intercept[Exception](
      spark.read.format("graft").load(s"$dir/lake").count())
    assert(f.getMessage.contains("reshard"))

    // a STALE instance at the old width is refused per-read and per-write
    val e1 = intercept[IllegalArgumentException](old.read())
    assert(e1.getMessage.contains("shards"))
    val e2 = intercept[IllegalArgumentException](old.ingest(rows(1, "x")))
    assert(e2.getMessage.contains("shards"))

    // resume to completion; everything converges on direct-at-5 + appends
    val fin = wide.reshard(5)
    assert(fin.read().count() === 450L)
    direct.ingest(rows(50, tag = "mid"))
    assert(rowSet(fin) === rowSet(direct))
    // the format works again post-completion
    assert(spark.read.format("graft").load(s"$dir/lake").count() === 450L)
    // compact works again and preserves everything
    fin.compact()
    assert(rowSet(fin) === rowSet(direct))
    // vacuum sweeps the retired old-width generations
    assert(fin.vacuum() >= 1L)
    assert(fin.read().count() === 450L)
  }

  test("time travel across a reshard: readAt re-derives, the SQL asOf refuses") {
    val dir = tmp()
    val old = Lake(spark, LakeConfig(s"$dir/lake", dim = dim, numHashes = 3))
    old.ingest(rows(200))
    val preVersion = old.currentVersion().get
    val wide = old.reshard(5)
    wide.ingest(rows(30, tag = "post"))
    // the snapshot serves the PRE-reshard row set, re-derived to the
    // session's width
    val snap = wide.readAt(preVersion)
    assert(snap.count() === 200L)
    val recomputed = snap
      .where(col("shard") =!= graft.functions.Lsh(dim, 5).shardCol(col("vector")))
      .count()
    assert(recomputed === 0L, "snapshot rows must re-derive to width 5")
    // SQL asOf of the pre-reshard version refuses: dir-named values lie
    val e = intercept[Exception](
      spark.read.format("graft").option("asOf", preVersion.toString)
        .load(s"$dir/lake").count())
    assert(e.getMessage.contains("re-derive") ||
      e.getMessage.contains("reshard"), e.getMessage)
  }

  test("skip index: dropped at transition (lookups fall back, stay correct), rebuilt at completion") {
    val dir = tmp()
    val old = Lake(spark, LakeConfig(s"$dir/lake", dim = dim, numHashes = 3))
    old.ingest(rows(300))
    assert(old.buildSkipIndex() > 0L)
    val wide = old.reshard(5, maxDirs = 1, dirsPerCommit = 1)
    // mid-reshard: the index is gone; lookup() full-scan fallback is
    // still correct
    val got = wide.lookup(Seq("r-7", "r-123")).select("id")
      .as[String].collect().toSet
    assert(got === Set("r-7", "r-123"))
    val fin = wide.reshard(5)
    // completion rebuilt the index, and it prunes correctly at the new
    // width
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/lake", "_skip")))
    assert(fin.lookup(Seq("r-7")).select("id").as[String].collect().toSet
      === Set("r-7"))
  }

  test("compressed lakes reshard intact: packed and pq_code survive the rewrite, compressed search works at the new width") {
    val dir = tmp()
    val base = rows(300)
    val pqModel = operators.Pq.round6(operators.Pq.train(
      base.withColumn("vid", monotonically_increasing_id()),
      "vector", "vid", dim = dim, m = 4, k = 8, iters = 2))
    val lake = Lake(spark, LakeConfig(s"$dir/lake", dim = dim, numHashes = 3,
      packSignBits = true, pqCodebooks = Some(pqModel)))
    lake.ingest(base)
    val wide = lake.reshard(5)
    // the stored compression columns rode the per-directory rewrite
    assert(wide.read()
      .where(col("packed").isNull || col("pq_code").isNull).count() === 0L)
    val v = wide.validate().collect().head
    assert(v.getAs[Long]("misrouted") === 0L)
    assert(v.getAs[Long]("bad_packed") === 0L)
    assert(v.getAs[Long]("bad_pq") === 0L)
    // compressed retrieval modes serve at the new width
    val q = Seq(0.2, -0.4, 0.6, 0.1)
    assert(wide.topKCompressed(q, 5).count() === 5L)
    assert(wide.topKPq(q, 5).count() === 5L)
  }

  test("guard rails: user-keyed lakes, narrowing, and zero-progress calls") {
    val dir = tmp()
    val keyed = Lake(spark, LakeConfig(s"$dir/keyed", dim = dim,
      partitionKey = Some("tenant")))
    val e1 = intercept[IllegalArgumentException](keyed.reshard(5))
    assert(e1.getMessage.contains("user-keyed"))
    val lsh = Lake(spark, LakeConfig(s"$dir/lake", dim = dim, numHashes = 4))
    lsh.ingest(rows(50))
    val e2 = intercept[IllegalArgumentException](lsh.reshard(3))
    assert(e2.getMessage.contains("REFINES"))
    // same-width reshard on a lake with nothing pending is a no-op
    val same = lsh.reshard(4)
    assert(same.read().count() === 50L)
    // maxDirs = 0 begins the transition but rewrites nothing; resume
    // finishes
    val w = lsh.reshard(6, maxDirs = 0)
    assert(w.read().count() === 50L) // pending-only reads still correct
    val fin = w.reshard(6)
    assert(fin.read().count() === 50L)
    val direct = Lake(spark, LakeConfig(s"$dir/direct", dim = dim, numHashes = 6))
    direct.ingest(rows(50))
    assert(rowSet(fin) === rowSet(direct))
  }

  test("reshard completes under CONCURRENT ingest: step-lock retries ride out append markers, nothing is lost") {
    val dir = tmp()
    val old = Lake(spark, LakeConfig(s"$dir/lake", dim = dim, numHashes = 3))
    old.ingest(rows(400))
    // begin the transition first so the appender thread can run at the
    // (now declared) target width for the whole step phase
    val wide = old.reshard(5, maxDirs = 0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    val appended = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val appender = pool.submit(new Runnable {
      override def run(): Unit = {
        val mine = Lake(spark, LakeConfig(s"$dir/lake", dim = dim, numHashes = 5))
        var i = 0
        // keep trying until at least one batch lands (between-step
        // windows, or right after completion) — a batch either fully
        // lands (gate taken) or refuses BEFORE writing (a reshard step
        // holds the lock); never partial
        while ((!stop.get() || appended.get() == 0) && i < 500) {
          try { mine.ingest(rows(2, s"c$i")); appended.addAndGet(2); () }
          catch { case _: java.util.ConcurrentModificationException =>
            Thread.sleep(100) }
          i += 1
        }
      }
    })
    val fin = wide.reshard(5, dirsPerCommit = 1) // steps + retries
    stop.set(true)
    appender.get(120, java.util.concurrent.TimeUnit.SECONDS)
    pool.shutdown()
    assert(fin.reshardStatus().isEmpty, "reshard must complete under traffic")
    assert(appended.get() > 0, "the appender must have landed batches")
    assert(fin.read().count() === 400L + appended.get())
    assert(fin.validate().head().getAs[Long]("misrouted") === 0L)
  }

  test("a streaming sink started MID-RESHARD stays manifest-governed: step commits never re-parent or orphan its generation") {
    // review finding (round 11): reshard steps used to ROLL the
    // generation pointer per commit, which would have re-parented a
    // stream-owned generation into raw live entries (serving in-flight
    // sink task files) or orphaned later sink batches. Steps now land
    // their split directories as explicit non-current entries and
    // never move the pointer.
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp()
    val old = Lake(spark, LakeConfig(s"$dir/lake", dim = dim, numHashes = 3))
    old.ingest(rows(300))
    // begin the transition, then start a stream at the target width
    val wide = old.reshard(5, maxDirs = 0)
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Seq[Float], String)]
    val q = wide.ingestStream(
      stream.toDF().toDF("vector", "document"), s"$dir/ckpt")
    try {
      stream.addData((Seq(0.9f, 0.1f, -0.2f, 0.3f), "streamed a"))
      q.processAllAvailable()
      assert(wide.read().where(col("document") === "streamed a").count() === 1L)
      // drive the reshard to completion WHILE the sink owns the
      // current generation — every step must leave the pointer alone
      val fin = wide.reshard(5, dirsPerCommit = 2)
      assert(fin.reshardStatus().isEmpty)
      // the sink keeps committing into its manifest-governed tree...
      stream.addData((Seq(-0.7f, 0.2f, 0.4f, -0.1f), "streamed b"))
      q.processAllAvailable()
      // ...and EVERYTHING is visible: base rows at the new width plus
      // both streamed rows
      assert(fin.read().count() === 302L)
      assert(fin.read().where(col("document").startsWith("streamed")).count() === 2L)
      assert(fin.validate().head().getAs[Long]("misrouted") === 0L)
    } finally q.stop()
  }

  test("applyChanges refuses a wider-routed source's delta: carried shard ids outside this width fail loudly") {
    // review finding (round 11): the feed is byte-preserving, so a
    // replica that lagged a source RESHARD would have landed rows in
    // directories its own routing can never probe — silent recall loss
    val dir = tmp()
    val src = Lake(spark, LakeConfig(s"$dir/src", dim = dim, numHashes = 3))
    src.ingest(rows(200))
    val rep = src.cloneTo(s"$dir/rep")
    val v1 = src.seal()
    val wideSrc = src.reshard(5)
    wideSrc.ingest(rows(10, tag = "post"))
    val v2 = wideSrc.seal()
    val delta = wideSrc.changesBetween(v1, v2)
    val e = intercept[IllegalArgumentException](rep.applyChanges(delta))
    assert(e.getMessage.contains("resharded"), e.getMessage)
    assert(rep.read().count() === 200L, "the refused apply landed nothing")
    // the documented recovery converges: reshard the replica to the
    // same width, then apply the same delta
    val wideRep = rep.reshard(5)
    wideRep.applyChanges(delta)
    assert(wideRep.read().count() === wideSrc.read().count())
    val audit = wideSrc.diffStats(wideRep).collect()
    assert(audit.forall(_.getBoolean(3)),
      s"post-reshard sync must converge: ${audit.filterNot(_.getBoolean(3)).mkString(", ")}")
  }

  test("zone map survives a reshard: readTimeRange stays correct at the new width") {
    val dir = tmp()
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ts1 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val old = Lake(spark, LakeConfig(s"$dir/lake", dim = dim, numHashes = 3))
    val data = (0 until 200).map { i =>
      (s"r-$i", Seq(math.sin(i * 1.3).toFloat, math.cos(i * 2.7).toFloat,
        math.sin(i * 0.9 + 1).toFloat, (i % 7 - 3).toFloat / 4),
        s"doc $i", if (i % 2 == 0) ts0 else ts1)
    }.toDF("id", "vector", "document", "timestamp")
    old.ingest(data)
    assert(old.buildZoneMap() > 0L)
    val wide = old.reshard(5)
    val inRange = wide.readTimeRange(
      java.time.Instant.parse("2023-12-01T00:00:00Z"),
      java.time.Instant.parse("2024-02-01T00:00:00Z")).count()
    assert(inRange === 100L)
  }

  test("a partition-scoped read resolves pending and pre-reshard entries through the width mask: routed top-k equals the unscoped filtered top-k") {
    val dir = tmp()
    val old = Lake(spark, LakeConfig(s"$dir/lake", dim = dim, numHashes = 3))
    old.ingest(rows(400))
    val preVersion = old.currentVersion().get
    // partial reshard: six of the eight width-3 directories stay PENDING,
    // then appends land at width 5 in the (unsealed) current generation
    val wide = old.reshard(5, maxDirs = 2, dirsPerCommit = 1)
    assert(wide.reshardStatus().exists(_._3 > 0), "fixture needs pending dirs")
    wide.ingest(rows(40, tag = "mid"))
    val lsh5 = Lsh(dim, 5)
    // routed searches: the answer of the unscoped top-k over the probes
    def probes(q: Seq[Double], n: Int): Seq[Int] = {
      val r = lsh5.shardOf(q)
      (r +: (0 until 5).map(j => r ^ (1 << j))).take(n)
    }
    def idDist(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "dist").as[(String, Double)].collect().toSeq
    val queries = (0 until 12).map { i =>
      (i.toLong, Seq(math.sin(i * 0.7), math.cos(i * 1.9),
        math.sin(i * 0.4 + 2), (i % 5 - 2) / 3.0))
    }
    def unscoped(q: Seq[Double], nprobe: Int) =
      idDist(wide.topKFiltered(q, 5, col("shard").isin(probes(q, nprobe): _*)))
    queries.foreach { case (_, q) =>
      assert(idDist(wide.topK(q, 5)) === unscoped(q, 1))
      assert(idDist(wide.topKMultiProbe(q, 5)) === unscoped(q, 6))
    }
    Seq(1, 6).foreach { nprobe =>
      val batch = wide.topKBatchRouted(queries, 5, nprobe).collect()
        .groupBy(_.getAs[Long]("qid"))
        .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
          .map(r => (r.getAs[String]("id"), r.getAs[Double]("dist"))).toSeq)
        .toMap
      queries.foreach { case (qid, q) =>
        assert(batch.getOrElse(qid, Nil) === unscoped(q, nprobe),
          s"qid $qid nprobe $nprobe")
      }
    }
    def idShard(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "shard").as[(String, Int)].collect().toSet
    // every session-width shard: the scoped read serves exactly the
    // filtered unscoped read — a pending width-3 directory holds rows of
    // four width-5 shards, and only the low-bits mask finds it
    val scoped = (0 until 32).map { s =>
      val got = idShard(wide.readPartitions(Set(Some(s.toString))))
      assert(got === idShard(wide.read().where(col("shard") === s)), s"shard $s")
      got.size
    }
    assert(scoped.sum === 440)
    // the same on a pre-reshard snapshot, written at width 3 throughout
    val snap = (0 until 32).map { s =>
      val got = idShard(wide.readPartitions(Set(Some(s.toString)),
        version = Some(preVersion)))
      assert(got === idShard(wide.readAt(preVersion).where(col("shard") === s)),
        s"snapshot shard $s")
      got.size
    }
    assert(snap.sum === 400)
  }

  test("mid-reshard zone-pruned reads serve re-derived shards: readTimeRange and topKInRange equal the filtered read") {
    val dir = tmp()
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ts1 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val old = Lake(spark, LakeConfig(s"$dir/lake", dim = dim, numHashes = 3))
    old.ingest((0 until 300).map { i =>
      (s"r-$i", Seq(math.sin(i * 1.3).toFloat, math.cos(i * 2.7).toFloat,
        math.sin(i * 0.9 + 1).toFloat, (i % 7 - 3).toFloat / 4),
        s"doc $i", if (i % 2 == 0) ts0 else ts1)
    }.toDF("id", "vector", "document", "timestamp"))
    assert(old.buildZoneMap() > 0L)
    val wide = old.reshard(5, maxDirs = 2, dirsPerCommit = 1)
    assert(wide.reshardStatus().exists(_._3 > 0), "fixture needs pending dirs")
    val (from, to) = (java.time.Instant.parse("2023-12-01T00:00:00Z"),
      java.time.Instant.parse("2024-02-01T00:00:00Z"))
    val window = col("timestamp") >= lit(java.sql.Timestamp.from(from)) &&
      col("timestamp") <= lit(java.sql.Timestamp.from(to))
    def idShard(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "shard").as[(String, Int)].collect().toSet
    assert(idShard(wide.readTimeRange(from, to)) ===
      idShard(wide.read().where(window)))
    def idDist(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "dist").as[(String, Double)].collect().toSeq
    (0 until 8).foreach { i =>
      val q = Seq(math.sin(i * 0.7), math.cos(i * 1.9),
        math.sin(i * 0.4 + 2), (i % 5 - 2) / 3.0)
      assert(idDist(wide.topKInRange(q, 5, from, to)) ===
        idDist(wide.topKFiltered(q, 5,
          window && col("shard") === Lsh(dim, 5).shardOf(q))), s"query $i")
    }
  }
}
