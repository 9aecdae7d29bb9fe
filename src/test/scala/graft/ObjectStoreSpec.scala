package graft

import java.net.URI

import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.functions._

/** A non-`file:` Hadoop FileSystem (scheme `bucket://`) backed by local
  * disk — stands in for an object store in this offline container, the
  * same gated posture as the reference's localstack S3 tests
  * (/root/reference/tests/conftest.py:33-42). Any Lake code path that
  * assumes `java.io.File`/local paths instead of the Hadoop FS API
  * breaks under this scheme. Rename is implemented as COPY+DELETE —
  * the object-store semantic under which a rename-based maintenance
  * swap briefly exposes a missing directory; the generation-pointer
  * layout must never care (its data path performs no rename at all). */
class BucketFs extends RawLocalFileSystem {
  override def getScheme: String = "bucket"
  override def getUri: URI = URI.create("bucket:///")
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean =
    org.apache.hadoop.fs.FileUtil.copy(this, src, this, dst, true, getConf)
}

/** [[BucketFs]] with PLAIN-S3 PUT semantics: `create(overwrite=false)`
  * silently replaces an existing object instead of failing — the store
  * on which an unguarded exclusive-create lock gives no exclusion. */
class PutBucketFs extends BucketFs {
  override def getScheme: String = "sloppy"
  override def getUri: URI = URI.create("sloppy:///")
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream =
    super.create(f, true, bufferSize, replication, blockSize, progress)
}

object CountingListFs {
  /** Every path `listStatus` was called on, in order — the LIST
    * round-trip ledger the zero-listing read contract is pinned
    * against. */
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** Every path created (a PUT), in order. */
  val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  /** Every path deleted, in order. */
  val deleted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** [[BucketFs]] that records every `listStatus`, `create` and `delete`
  * call — an object store's LIST is the round trip the sidecar's
  * FILE-level manifest exists to eliminate (guide §6), and this FS makes
  * "zero listings" (and a commit's PUTs) an assertable fact instead of
  * a claim. */
class CountingListFs extends BucketFs {
  override def getScheme: String = "countfs"
  override def getUri: URI = URI.create("countfs:///")
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingListFs.listed.add(f.toString)
    super.listStatus(f)
  }
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    CountingListFs.created.add(f.toString)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def delete(f: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean = {
    CountingListFs.deleted.add(f.toString)
    super.delete(f, recursive)
  }
}

object RivalPutFs {
  /** When armed, the next `_lock` create gets a rival PUT landed over
    * it at close — deterministically reproducing the object-store race
    * window between a writer's own PUT and its read-back. */
  @volatile var armed: Boolean = false
  val rivalJson = """{"op": "compact", "taken_at": "rival", "holder": "rival-token"}"""
}

/** [[PutBucketFs]] that injects a rival writer's PUT immediately after
  * ours closes — before our verify-after-write read-back. */
class RivalPutFs extends PutBucketFs {
  override def getScheme: String = "rival"
  override def getUri: URI = URI.create("rival:///")
  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    val out = super.create(f, overwrite, bufferSize, replication, blockSize, progress)
    if (f.getName == "_lock" && RivalPutFs.armed) {
      RivalPutFs.armed = false
      val self = this
      new org.apache.hadoop.fs.FSDataOutputStream(
        new java.io.FilterOutputStream(out) {
          override def close(): Unit = {
            super.close()
            val rival = self.create(f, true, bufferSize, replication, blockSize, progress)
            rival.write(RivalPutFs.rivalJson.getBytes("UTF-8"))
            rival.close()
          }
        }, null)
    } else out
  }
}

object CondPutFs {
  /** When non-null, a rival writer's plain PUT lands INSIDE the next
    * conditional create's PUT→close window for any path whose name
    * contains this substring — the interleave that plain-PUT
    * verify-after-write could not always catch. The store's
    * If-None-Match arbitration at close must refuse ours. */
  @volatile var rivalAtCloseFor: String = null
  /** The store's arbitration atom — stands in for a real object
    * store's internally-consistent conditional PUT. */
  private[graft] val atom = new Object
}

/** [[PutBucketFs]] that ADVERTISES and honors Hadoop's conditional
  * create (If-None-Match PUT, HADOOP-19256 — what s3a exposes on
  * 3.4.x+ with fs.s3a.create.conditional.enabled): a createFile
  * builder carrying `fs.option.create.conditional.overwrite` with
  * overwrite=false buffers its bytes and commits at close(), failing
  * with FileAlreadyExistsException if ANY object exists by then. Plain
  * create() keeps the sloppy clobbering PUT — exactly a real store
  * where only the conditional path is exclusive. */
class CondPutFs extends PutBucketFs {
  override def getScheme: String = "conds3"
  override def getUri: URI = URI.create("conds3:///")
  override def hasPathCapability(p: org.apache.hadoop.fs.Path,
      capability: String): Boolean =
    capability == "fs.option.create.conditional.overwrite" ||
      super.hasPathCapability(p, capability)
  override def createFile(p: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FSDataOutputStreamBuilder[_, _] =
    new CondCreateBuilder(this, p).create()
}

/** The conditional-create builder for [[CondPutFs]]. */
class CondCreateBuilder(cfs: CondPutFs, p: org.apache.hadoop.fs.Path)
    extends org.apache.hadoop.fs.FSDataOutputStreamBuilder[
      org.apache.hadoop.fs.FSDataOutputStream, CondCreateBuilder](cfs, p) {
  override def getThisBuilder: CondCreateBuilder = this
  override def build(): org.apache.hadoop.fs.FSDataOutputStream = {
    val conditional = getOptions.getBoolean(
      "fs.option.create.conditional.overwrite", false)
    val overwrite =
      getFlags.contains(org.apache.hadoop.fs.CreateFlag.OVERWRITE)
    if (!conditional) return cfs.create(getPath, overwrite)
    val buf = new java.io.ByteArrayOutputStream()
    new org.apache.hadoop.fs.FSDataOutputStream(
      new java.io.FilterOutputStream(buf) {
        override def close(): Unit = {
          super.close()
          val arm = CondPutFs.rivalAtCloseFor
          if (arm != null && getPath.getName.contains(arm)) {
            CondPutFs.rivalAtCloseFor = null
            val rival = cfs.create(getPath, true)
            rival.write(RivalPutFs.rivalJson.getBytes("UTF-8"))
            rival.close()
          }
          CondPutFs.atom.synchronized {
            if (!overwrite && cfs.exists(getPath))
              throw new org.apache.hadoop.fs.FileAlreadyExistsException(
                s"$getPath: conditional create refused (If-None-Match: " +
                  "an object already exists)")
            val out = cfs.create(getPath, true)
            out.write(buf.toByteArray)
            out.close()
          }
        }
      }, null)
  }
}

/** Exercises the S3 tier posture (SURVEY.md §2.1 S3/S4): the lake's
  * location is an opaque Hadoop FS URI, so pointing it at a non-local
  * scheme must work end-to-end with zero code changes — the same way a
  * cluster deployment swaps `file:` for `s3a:`. */
class ObjectStoreSpec extends SparkSpec {
  import spark.implicits._

  private def withBucketFs[A](body: String => A): A = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.bucket.impl", classOf[BucketFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_bucket").toString
    body(s"bucket://$dir")
  }

  test("lake on a non-file: FS scheme: ingest -> read -> topK -> delete round-trips") {
    withBucketFs { root =>
      val lake = Lake(spark, LakeConfig(s"$root/lake", dim = 5, numHashes = 4))
      assert(!lake.exists())
      assert(lake.count() === 0L) // empty bootstrap through the remote FS

      val v = Seq(0.1, 0.2, 0.3, 0.4, 0.5)
      lake.ingest(Seq((v.map(_.toFloat), "remote doc"))
        .toDF("vector", "document"))

      assert(lake.exists())
      assert(lake.count() === 1L)
      // every file in the plan is addressed through the bucket scheme —
      // nothing silently fell back to a local file: path
      val files = lake.read().inputFiles
      assert(files.nonEmpty && files.forall(_.startsWith("bucket:")), files.mkString(","))

      val hit = lake.topKExact(v, 1).collect().head
      assert(hit.getAs[String]("document") === "remote doc")
      assert(hit.getAs[Double]("dist") === 0.0)

      lake.delete()
      assert(!lake.exists())
    }
  }

  test("derived table round-trips on a non-file: FS: build, incremental refresh, co-located join, vacuum") {
    withBucketFs { root =>
      import org.apache.spark.sql.functions.{col, length}
      val lake = Lake(spark, LakeConfig(s"$root/lake", dim = 3, numHashes = 3))
      def rows(r: Range) = r.map { i =>
        (s"r-$i", Seq(math.sin(i * 3).toFloat, math.cos(i * 7).toFloat,
          (i % 5 - 2).toFloat / 3), s"doc $i")
      }.toDF("id", "vector", "document")
      lake.ingest(rows(0 until 40))
      val dloc = s"$root/feat"
      val f = (df: org.apache.spark.sql.DataFrame) =>
        df.select(col("id"), col("shard"),
          length(col("document")).as("doc_len"))
      lake.deriveTo(dloc)(f)
      // churn + the INCREMENTAL path through the remote FS (the commit
      // takes the Hadoop create branch — no POSIX O_EXCL on bucket://)
      lake.ingest(rows(40 until 60))
      lake.deleteWhere(col("id").endsWith("3"))
      val d2 = lake.deriveTo(dloc)(f)
      val got = lake.joinDerived(d2).select("id", "doc_len").collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      val want = lake.read().select("id", "document").collect()
        .map(r => r.getString(0) -> r.getString(1).length).toMap
      assert(got === want)
      // the derived scan is addressed through the bucket scheme
      // (inputFiles is empty on DSv2 relations — read the plan's file
      // index rendering instead)
      val planStr = d2.read().queryExecution.executedPlan.toString
      assert(planStr.contains("bucket:"), planStr.take(800))
      // rebuild orphans the old generations; vacuum reclaims them remotely
      val d3 = lake.deriveTo(dloc, rebuild = true)(f)
      val (trees, sidecars) = d3.vacuum(keepVersions = 1)
      assert(trees >= 1 && sidecars >= 1)
      assert(lake.joinDerived(d3).count() === want.size.toLong)
    }
  }

  test("change feed round-trips on a non-file: FS: seal, mutate, netted delta") {
    withBucketFs { root =>
      val lake = Lake(spark, LakeConfig(s"$root/lake", dim = 4, numHashes = 2))
      lake.ingest((0 until 30)
        .map(i => (i.toString, Seq(i.toFloat, 1f, -i.toFloat, 0.5f), s"doc-$i"))
        .toDF("id", "vector", "document"))
      val sync = lake.seal()
      assert(lake.deleteWhere(col("id").cast("long") % 3 === 0) === 10L)
      lake.ingest(Seq(("100", Seq(1f, 2f, 3f, 4f), "late"))
        .toDF("id", "vector", "document"))
      val ch = lake.changesSince(sync)
      // every file the delta opened is addressed through the bucket scheme
      assert(ch.inputFiles.nonEmpty && ch.inputFiles.forall(_.startsWith("bucket:")))
      val deleted = ch.where(col("change") === "delete")
        .select("id").as[String].collect().sorted
      assert(deleted === (0 until 30).filter(_ % 3 == 0).map(_.toString).sorted.toArray)
      assert(ch.where(col("change") === "insert")
        .select("id").as[String].collect().toSeq === Seq("100"))
      lake.delete()
    }
  }

  test("skip index round-trips on a non-file: FS: build, pruned lookup, maintenance refresh") {
    withBucketFs { root =>
      val lake = Lake(spark, LakeConfig(s"$root/lake", dim = 5, numHashes = 4))
      val rng = new scala.util.Random(13)
      lake.ingest((0 until 120).map(i =>
        (s"b$i", Seq.fill(5)(rng.nextGaussian().toFloat), s"doc $i"))
        .toDF("id", "vector", "document"))
      // the _skip swap goes through rename — copy+delete on this FS —
      // and the probe reads part files by explicit bucket: paths
      assert(lake.buildSkipIndex(fpp = 0.001) > 0L)
      assert(lake.validate().head().getAs[Long]("skip_stale") === 0L)
      val got = lake.lookup(Seq("b42")).collect()
      assert(got.length === 1 && got.head.getAs[String]("document") === "doc 42")
      // maintenance refresh keeps the index fresh through the remote FS
      assert(lake.deleteIds(Seq("b42", "b43")) === 2L)
      assert(lake.validate().head().getAs[Long]("skip_stale") === 0L)
      assert(lake.lookup(Seq("b42")).count() === 0L)
      assert(lake.lookup(Seq("b44")).count() === 1L)
      lake.delete()
    }
  }

  test("zone map round-trips on a non-file: FS: build, pruned window read, append refresh") {
    withBucketFs { root =>
      val lake = Lake(spark, LakeConfig(s"$root/lake", dim = 4, numHashes = 2))
      def ts(d: Int) = java.sql.Timestamp.from(
        java.time.Instant.ofEpochSecond(d.toLong * 86400))
      def batch(d: Int) = (0 until 10).map(i =>
        (s"z$d-$i", Seq(math.sin(d * 7 + i).toFloat, 1f, -i.toFloat, 0.5f),
          s"doc $d $i", ts(d), s"""{"q": ${d * 100 + i}}"""))
        .toDF("id", "vector", "document", "timestamp", "metadata_json")
      (1 to 2).foreach(d => lake.ingest(batch(d)))
      // the build commits every file's stats in one sidecar version:
      // no rename, so nothing is copied on this copy+delete FS
      assert(lake.buildZoneMap(fields = Seq("q")) > 0L)
      // post-build append: the new files' stats ride its own commit
      lake.ingest(batch(3))
      def window(d: Int) = lake.readTimeRange(
        java.time.Instant.ofEpochSecond(d.toLong * 86400),
        java.time.Instant.ofEpochSecond(d.toLong * 86400))
      (1 to 3).foreach { d =>
        val got = window(d).select("id").as[String].collect().toSet
        assert(got === (0 until 10).map(i => s"z$d-$i").toSet,
          s"day $d window on bucket://")
      }
      val w = window(2)
      // pruned AND every opened file addressed through the bucket scheme
      // (the stats key each file by its directory and name, so the
      // scheme's spelling of the path never matters)
      assert(w.inputFiles.nonEmpty && w.inputFiles.forall(_.startsWith("bucket:")))
      assert(w.inputFiles.toSet.size < lake.read().inputFiles.toSet.size,
        "the day-2 window must prune on the remote FS")
      // the FIELD zone round-trips too: band 3 came from a post-build
      // append, which computed its ranges over the sidecar's zone_fields
      val f = lake.readFieldRange("q", 300.0, 399.0)
      assert(f.select("id").as[String].collect().toSet ===
        (0 until 10).map(i => s"z3-$i").toSet)
      assert(f.inputFiles.nonEmpty &&
        f.inputFiles.toSet.size < lake.read().inputFiles.toSet.size,
        "the field band must prune on the remote FS")
      lake.delete()
    }
  }

  test("incremental-agg state round-trips on a non-file: FS: tmp+rename pointer commits, replay, vacuum") {
    withBucketFs { root =>
      import graft.streaming.IncrementalAgg
      val path = s"$root/aggstate"
      val keys = Seq("k")
      val aggs = Seq("chars" ->
        org.apache.spark.sql.functions.length(col("doc")).cast("double"))
      def apply(rows: Seq[(String, Long, String)], id: Long): Boolean =
        IncrementalAgg.applyDelta(spark, path,
          IncrementalAgg.signedDelta(
            rows.toDF("doc", "k", "change"), keys, aggs),
          keys, aggs.map(_._1), id)
      assert(apply(Seq(("aa", 1L, "insert"), ("bbb", 2L, "insert")), 0L))
      assert(apply(Seq(("aa", 1L, "delete"), ("cccc", 1L, "insert")), 1L))
      // replay refused through the remote FS pointer read
      assert(!apply(Seq(("zz", 9L, "insert")), 1L))
      val got = IncrementalAgg.readState(spark, path).collect()
        .map(r => r.getAs[Long]("k") ->
          ((r.getAs[Long]("__rows"), r.getAs[Double]("chars")))).toMap
      assert(got === Map(1L -> ((1L, 4.0)), 2L -> ((1L, 3.0))))
      // vacuum sweeps the superseded dir once its pointer rotates out —
      // here both pointers are retained, so nothing is sweepable yet
      assert(IncrementalAgg.vacuumState(spark, path, staleMs = 0L) === 0L)
    }
  }

  test("schema evolution round-trips on a non-file: FS: evolve, null-fill, rewrite-preserve") {
    withBucketFs { root =>
      val lake = Lake(spark, LakeConfig(s"$root/lake", dim = 5, numHashes = 4))
      lake.ingest(Seq(
        (Seq(0.1f, 0.2f, 0.3f, 0.4f, 0.5f), "old doc", "r-0"),
        (Seq(-0.5f, 0.4f, -0.3f, 0.2f, -0.1f), "old doc 2", "r-1"))
        .toDF("vector", "document", "id"))
      lake.evolve(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType))))
      lake.ingest(Seq((Seq(0.2f, 0.2f, 0.2f, 0.2f, 0.2f), "new doc", "r-2", "en"))
        .toDF("vector", "document", "id", "lang"))
      val got = lake.read().select("id", "lang").collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(got === Map("r-0" -> None, "r-1" -> None, "r-2" -> Some("en")))
      // a rewrite on the remote FS (copy+delete rename commit) keeps it
      assert(lake.deleteWhere(
        org.apache.spark.sql.functions.col("id") === "r-0") === 1L)
      lake.compact()
      val after = lake.read().select("id", "lang").collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(after === Map("r-1" -> None, "r-2" -> Some("en")))
    }
  }

  test("sidecar metadata lands on the remote FS too (versioned commit files)") {
    withBucketFs { root =>
      val lake = Lake(spark, LakeConfig(s"$root/lake2", dim = 3, numHashes = 3))
      lake.ingest(Seq((Seq(1f, 0f, 0f), "d")).toDF("vector", "document"))
      val p = new org.apache.hadoop.fs.Path(s"$root/lake2")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val sidecars = fs.listStatus(p).map(_.getPath.getName)
        .filter(Lake.metaNameRe.pattern.matcher(_).matches)
      assert(sidecars.nonEmpty, "a versioned sidecar commit file exists")
      assert(lake.lastUpdate().isDefined)
    }
  }

  test("maintenance is reader-atomic under copy+delete rename: no missing dirs, ever") {
    withBucketFs { root =>
      val lake = Lake(spark, LakeConfig(s"$root/lake3", dim = 4, numHashes = 3))
      val rng = new scala.util.Random(17)
      // three appends -> fragmented shards, several files per dir
      (0 until 3).foreach { b =>
        lake.ingest((0 until 16).map { i =>
          (s"b$b-r$i", Seq.fill(4)(rng.nextGaussian().toFloat), s"doc $b/$i")
        }.toDF("id", "vector", "document"))
      }
      assert(lake.count() === 48L)

      // readers that PLANNED before each maintenance op: their resolved
      // file lists must stay fully readable through commit (the old
      // generation is dead-in-place, never renamed or deleted)
      val planedBeforeCompact = lake.read()
      lake.compact()
      assert(planedBeforeCompact.count() === 48L,
        "pre-compact reader scans the old generation intact")

      val plannedBeforeDelete = lake.read()
      // a reader THREAD hammering the lake while deleteWhere commits:
      // every observation must be one of the two legal snapshots —
      // never an error, never a partial directory
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val observed = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      val errors = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
      val reader = new Thread(() => {
        while (!stop.get()) {
          try observed.add(Lake(spark, lake.cfg).count())
          catch { case t: Throwable => errors.set(t); stop.set(true) }
        }
      })
      reader.start()
      try {
        assert(lake.deleteWhere(col("id") === "b0-r0") === 1L)
        assert(lake.upsert(Seq(("b1-r1", Seq(1f, 0f, 0f, 0f), "v2"))
          .toDF("id", "vector", "document")) === 1L)
      } finally { stop.set(true); reader.join(30000) }
      assert(errors.get() === null,
        s"racing reader must never fail: ${errors.get()}")
      assert(observed.size() > 0)
      observed.forEach(c => assert(c === 48L || c === 47L,
        s"reader observed an illegal snapshot of $c rows"))

      assert(plannedBeforeDelete.count() === 48L,
        "pre-delete reader still sees its snapshot")
      assert(lake.count() === 47L)
    }
  }

  test("held lock refuses mutations even where exclusive-create is a plain PUT") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.sloppy.impl", classOf[PutBucketFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_sloppy").toString
    val lake = Lake(spark, LakeConfig(s"sloppy://$dir/lake", dim = 3, numHashes = 3))
    lake.ingest(Seq((Seq(1f, 0f, 0f), "d")).toDF("vector", "document"))
    val lock = new org.apache.hadoop.fs.Path(lake.cfg.location, Lake.lockName)
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val held = """{"op": "compact", "taken_at": "t", "holder": "other-writer"}"""
    val out = fs.create(lock, false)
    out.write(held.getBytes("UTF-8")); out.close()
    // create(overwrite=false) would silently clobber this lock here —
    // the exists() pre-check is what stands between two live writers
    val e = intercept[java.util.ConcurrentModificationException](
      lake.ingest(Seq((Seq(0f, 1f, 0f), "x")).toDF("vector", "document")))
    assert(e.getMessage.contains("writer lock"))
    val in = fs.open(lock)
    val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(body === held, "the held lock was not clobbered")
    fs.delete(lock, false)
  }

  test("lost PUT race is caught by verify-after-write; loser never unlocks the winner") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.rival.impl", classOf[RivalPutFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_rival").toString
    val lake = Lake(spark, LakeConfig(s"rival://$dir/lake", dim = 3, numHashes = 3))
    lake.ingest(Seq((Seq(1f, 0f, 0f), "d")).toDF("vector", "document"))
    // arm the rival: its PUT lands between our PUT and our read-back.
    // deleteWhere drives the race — it is an EXCLUSIVE-lock op (plain
    // ingest holds a uniquely-named shared marker instead, which has no
    // PUT race to lose)
    RivalPutFs.armed = true
    val e = intercept[java.util.ConcurrentModificationException](
      lake.deleteWhere(col("id").isNotNull))
    assert(e.getMessage.contains("writer lock"))
    // the winner's lock survives: the loser must not delete it
    val lock = new org.apache.hadoop.fs.Path(lake.cfg.location, Lake.lockName)
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(lock), "loser deleted the winner's lock")
    val in = fs.open(lock)
    val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(body.contains("rival-token"))
    fs.delete(lock, false)
    assert(lake.count() === 1L, "the refused delete removed nothing")
  }

  test("conditional-create store: a rival PUT inside the PUT-to-close window is refused by the store itself") {
    // THE interleave plain-PUT verify-after-write cannot always catch:
    // the rival lands after our PUT begins and before our commit. On a
    // store advertising conditional create, the If-None-Match close
    // arbitrates — our acquisition fails as contention, the rival's
    // lock survives, nothing is mutated. The residual is CLOSED here.
    spark.sparkContext.hadoopConfiguration
      .set("fs.conds3.impl", classOf[CondPutFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_conds3").toString
    val lake = Lake(spark, LakeConfig(s"conds3://$dir/lake", dim = 3, numHashes = 3))
    lake.ingest(Seq((Seq(1f, 0f, 0f), "d")).toDF("vector", "document"))
    CondPutFs.rivalAtCloseFor = "_lock"
    val e = intercept[java.util.ConcurrentModificationException](
      lake.deleteWhere(col("id").isNotNull))
    assert(e.getMessage.contains("writer lock"))
    val lock = new org.apache.hadoop.fs.Path(lake.cfg.location, Lake.lockName)
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(lock), "loser deleted the winner's lock")
    val in = fs.open(lock)
    val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(body.contains("rival-token"))
    fs.delete(lock, false)
    assert(lake.count() === 1L, "the refused delete removed nothing")
  }

  test("conditional-create store: exclusion storm admits exactly one writer at a time; uncontended ops pass end-to-end") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.conds3.impl", classOf[CondPutFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_conds3s").toString
    val lake = Lake(spark, LakeConfig(s"conds3://$dir/lake", dim = 3, numHashes = 3))
    lake.ingest((0 until 12).map(i =>
      (s"r$i", Seq(i.toFloat, 1f, 0f), s"d$i")).toDF("id", "vector", "document"))
    val inside = new java.util.concurrent.atomic.AtomicInteger()
    val maxInside = new java.util.concurrent.atomic.AtomicInteger()
    val acquired = new java.util.concurrent.atomic.AtomicInteger()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val tasks = (0 until 6).map { _ =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          gate.await()
          var rounds = 0
          while (rounds < 60) {
            try lake.withWriterLock("storm") {
              val n = inside.incrementAndGet()
              maxInside.getAndAccumulate(n, math.max)
              acquired.incrementAndGet()
              inside.decrementAndGet()
              ()
            } catch {
              case _: java.util.ConcurrentModificationException => ()
            }
            rounds += 1
          }
        }
      })
    }
    gate.countDown()
    tasks.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(maxInside.get() === 1,
      s"conditional-create exclusion broke: ${maxInside.get()} writers inside")
    assert(acquired.get() > 0, "storm never acquired — vacuous")
    // the lock never strands; a real maintenance op still goes through
    lake.deleteWhere(col("id") === "r0")
    assert(lake.count() === 11L)
  }

  test("conditional-create store: a racing derived-table commit loses its version create loudly; the rival's sidecar survives") {
    // derived commits are deliberately LOCKLESS — the version-file
    // create is the only arbitration. On a conditional-create store it
    // must be exact: a rival sidecar landing inside our PUT-to-close
    // window fails OUR commit (ConcurrentModificationException), never
    // both.
    spark.sparkContext.hadoopConfiguration
      .set("fs.conds3.impl", classOf[CondPutFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_conds3d").toString
    val lake = Lake(spark, LakeConfig(s"conds3://$dir/lake", dim = 3, numHashes = 2))
    lake.ingest((0 until 10).map(i =>
      (s"r$i", Seq(i.toFloat, 1f, 0f), s"d$i")).toDF("id", "vector", "document"))
    val dloc = s"conds3://$dir/feat"
    val feat = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("id"), col("shard"),
        length(col("document")).as("doc_len"))
    CondPutFs.rivalAtCloseFor = "_derived."
    val e = intercept[java.util.ConcurrentModificationException](
      lake.deriveTo(dloc)(feat))
    assert(e.getMessage.contains("lost the version"), e.getMessage)
    // the rival's sidecar body is what the store serves
    val fs = DerivedTable.fsOf(spark, dloc)
    val p = new org.apache.hadoop.fs.Path(dloc, "_derived.1.json")
    val in = fs.open(p)
    val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(body.contains("rival-token"), "loser overwrote the winner's commit")
    // a clean retry converges: allocates PAST the rival's version
    fs.delete(p, false) // the rival body is not a parseable sidecar
    val d = lake.deriveTo(dloc)(feat)
    assert(lake.joinDerived(d).count() === 10L)
  }

  test("graft-changes streaming source round-trips on a non-file: FS") {
    withBucketFs { base =>
      val lake = Lake(spark, LakeConfig(s"$base/feed", dim = 3, numHashes = 2))
      lake.ingest(Seq(("a", Seq(1f, 0f, 0f), "da"), ("b", Seq(0f, 1f, 0f), "db"))
        .toDF("id", "vector", "document"))
      val q = spark.readStream.format("graft-changes")
        .option("location", lake.cfg.location)
        .option("dim", 3).option("numHashes", 2)
        .load().select("id", "change")
        .writeStream.format("memory").queryName("bucket_feed_out")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
      try {
        q.processAllAvailable()
        assert(spark.table("bucket_feed_out").count() === 2L)
        lake.deleteWhere(col("id") === "a")
        q.processAllAvailable()
        val rows = spark.table("bucket_feed_out").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        assert(rows.count(_ == ("a", "delete")) === 1,
          s"expected the delete to stream through: ${rows.mkString(", ")}")
      } finally q.stop()
    }
  }

  test("concurrent ingests + excluded maintenance round-trip on a non-file: FS (copy+delete rename)") {
    withBucketFs { base =>
      val lake = Lake(spark, LakeConfig(s"$base/conc", dim = 3, numHashes = 2))
      lake.ingest(Seq(("seed", Seq(1f, 0f, 0f), "s")).toDF("id", "vector", "document"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      // two appends racing on the object-store stand-in: the staged
      // files PUBLISH via BucketFs's copy+delete rename, and both land
      val attempts = (0 until 2).map { i =>
        val rows = (0 until 6).map(j => (s"b$i-$j",
          Seq(i.toFloat, j.toFloat, 1f), s"row $i/$j"))
          .toDF("id", "vector", "document")
        scala.concurrent.Future { lake.ingest(rows); "ok" }
      }
      val outcomes = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(attempts),
        scala.concurrent.duration.Duration(180, "s"))
      pool.shutdown()
      assert(outcomes === Seq("ok", "ok"))
      assert(lake.count() === 13L)
      assert(lake.read().select("id").distinct().count() === 13L)
      // with no append in flight, maintenance proceeds and the netted
      // row set is intact afterwards
      assert(lake.deleteWhere(col("id") === "seed") === 1L)
      assert(lake.compact() >= 0L)
      assert(lake.count() === 12L)
      val fs = new org.apache.hadoop.fs.Path(lake.cfg.location)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val leftovers = fs.listStatus(
        new org.apache.hadoop.fs.Path(lake.cfg.location)).map(_.getPath.getName)
        .filter(n => n.startsWith("_append.") || n == "_staging")
      assert(leftovers.isEmpty, s"scratch left behind: ${leftovers.mkString(", ")}")
    }
  }

  test("streaming-sink exactly-once protocol round-trips on a non-file: FS (ledger, replay, torn sweep)") {
    withBucketFs { root =>
      val lake = Lake(spark, LakeConfig(s"$root/lake", dim = 3, numHashes = 2))
      val batch = Seq(
        (Seq(1f, 0f, 0f), "s0"), (Seq(0f, 1f, 0f), "s1"))
        .toDF("vector", "document")
      assert(lake.ingestExactlyOnce(batch, "bucket-sink", 0L))
      assert(!lake.ingestExactlyOnce(batch, "bucket-sink", 0L)) // replay skips
      assert(lake.count() === 2L)
      // the batch record lives in the sidecar version on the remote
      // scheme, beside the files it names: no other root file
      val fs = new org.apache.hadoop.fs.Path(lake.cfg.location)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val idHex = Lake.sinkIdHex("bucket-sink")
      def rootNames = fs.listStatus(new org.apache.hadoop.fs.Path(lake.cfg.location))
        .map(_.getPath.getName).toSeq
      val newest = rootNames.filter(n => Lake.metaNameRe.pattern.matcher(n).matches())
        .maxBy(_.split('.')(1).toLong)
      val committed = new org.apache.hadoop.fs.Path(lake.cfg.location, newest)
      assert(ControlFiles.read[ControlFiles.LakeSidecar](fs, committed).sinks ===
        Some(Seq(ControlFiles.SinkBatch(idHex, 0L))))
      assert(!rootNames.exists(n => n.startsWith("_sink.") || n.startsWith("_append.")))
      // a torn commit across the PUT-semantics store: the batch's files
      // written, the version naming them lost — the replay lands one
      // copy, nothing named is missing, and vacuum deletes the rest
      val torn = lake.read().inputFiles.map(new org.apache.hadoop.fs.Path(_))
      fs.delete(committed, false)
      assert(lake.count() === 0L)
      assert(lake.ingestExactlyOnce(batch, "bucket-sink", 0L))
      assert(lake.validate().head().getAs[Long]("missing_files") === 0L)
      lake.vacuum()
      assert(torn.forall(!fs.exists(_)), "vacuum deletes the unnamed attempt")
      assert(lake.count() === 2L)
      assert(lake.read().select("document").as[String].collect().sorted
        === Array("s0", "s1"))
      // maintenance proceeds
      assert(lake.compact() >= 1L)
      assert(lake.count() === 2L)
    }
  }

  test("incremental reshard round-trips on a non-file: FS: mid-reshard reads, crash-resume via repair, completion") {
    withBucketFs { root =>
      val lake = Lake(spark, LakeConfig(s"$root/lake", dim = 5, numHashes = 3))
      val rnd = new scala.util.Random(13)
      val data = (0 until 300).map(i =>
        (s"r-$i", Seq.fill(5)(rnd.nextGaussian().toFloat), s"doc $i"))
      lake.ingest(data.toDF("id", "vector", "document"))
      val want = lake.read().select("id", "document")
        .as[(String, String)].collect().toSet

      // partial reshard over the bucket scheme: one committed step
      val mid = lake.reshard(5, maxDirs = 1, dirsPerCommit = 1)
      assert(mid.read().select("id", "document")
        .as[(String, String)].collect().toSet === want,
        "mid-reshard read must serve the full row set on bucket://")
      assert(mid.reshardStatus().exists(_._3 > 0L))

      // CRASH mid-reshard: a stranded writer lock blocks the resume
      // (loudly) until repair() clears it — the documented recovery
      val fs = new org.apache.hadoop.fs.Path(mid.cfg.location)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val lock = new org.apache.hadoop.fs.Path(mid.cfg.location, "_lock")
      val out = fs.create(lock, false)
      out.write("""{"op": "reshard", "holder": "dead-jvm"}""".getBytes("UTF-8"))
      out.close()
      intercept[java.util.ConcurrentModificationException](mid.reshard(5))
      assert(mid.repair() >= 1L) // clears the stranded lock (and sweeps)
      val fin = mid.reshard(5)
      assert(fin.reshardStatus().isEmpty, "resume must complete")
      assert(fin.read().select("id", "document")
        .as[(String, String)].collect().toSet === want)
      // every file still addressed through the bucket scheme, routing clean
      val files = fin.read().inputFiles
      assert(files.nonEmpty && files.forall(_.startsWith("bucket:")))
      assert(fin.validate().head().getAs[Long]("misrouted") === 0L)
      assert(fin.vacuum() >= 1L) // the retired old-width trees sweep
      assert(fin.count() === 300L)
    }
  }

  test("countfs: a sink batch makes the root requests of a plain ingest — the gate marker and one sidecar version") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingListFs].getName)
    val root = "countfs://" +
      java.nio.file.Files.createTempDirectory("graft_countfs_sink").toString
    def batch(tag: String) = (0 until 40)
      .map(i => (s"$tag$i", Seq(math.sin(i).toFloat, 1f, -i.toFloat, 0.5f), s"doc-$i"))
      .toDF("id", "vector", "document")
    import scala.jdk.CollectionConverters._
    /** LISTs of, and creates and deletes directly under, the lake root
      * while `op` runs; versioned and per-writer names as their shapes. */
    def rootRequests(lake: Lake)(op: => Any): (Int, Seq[String], Seq[String]) = {
      Seq(CountingListFs.listed, CountingListFs.created, CountingListFs.deleted)
        .foreach(_.clear())
      op
      val rootPath = new org.apache.hadoop.fs.Path(lake.cfg.location)
      def atRoot(q: java.util.concurrent.ConcurrentLinkedQueue[String]) =
        q.asScala.toSeq.map(new org.apache.hadoop.fs.Path(_))
          .filter(_.getParent == rootPath).map(_.getName
            .replaceAll("""^_meta\.\d+\.json$""", "_meta.<v>.json")
            .replaceAll("""^_append\..+\.lock$""", "_append.<writer>.lock"))
      (CountingListFs.listed.asScala.count(p => new org.apache.hadoop.fs.Path(p) == rootPath),
        atRoot(CountingListFs.created), atRoot(CountingListFs.deleted))
    }
    val plain = Lake(spark, LakeConfig(s"$root/plain", dim = 4, numHashes = 3))
    val sink = Lake(spark, LakeConfig(s"$root/sink", dim = 4, numHashes = 3))
    Seq(plain, sink).foreach(_.ingest(batch("w"))) // past the first commit
    val byIngest = rootRequests(plain)(plain.ingest(batch("b")))
    val bySink = rootRequests(sink)(assert(sink.ingestExactlyOnce(batch("b"), "count-sink", 0L)))
    assert(bySink === byIngest, s"sink batch $bySink vs plain ingest $byIngest")
    val (_, creates, deletes) = bySink
    assert(creates === Seq("_append.<writer>.lock", "_meta.<v>.json"))
    assert(deletes === Seq("_append.<writer>.lock"))
    // the replay of the committed batch writes nothing at the root
    val (_, replayCreates, _) = rootRequests(sink)(
      assert(!sink.ingestExactlyOnce(batch("b"), "count-sink", 0L)))
    assert(replayCreates === Seq("_append.<writer>.lock"))
    assert(sink.count() === plain.count())
  }

  test("manifest-recorded reads plan with ZERO data-directory listings") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingListFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_countfs").toString
    val root = s"countfs://$dir"
    val lake = Lake(spark, LakeConfig(s"$root/lake", dim = 4, numHashes = 3))
    lake.ingest((0 until 60)
      .map(i => (s"m$i", Seq(math.sin(i).toFloat, 1f, -i.toFloat, 0.5f), s"doc-$i"))
      .toDF("id", "vector", "document"))
    // seal rolls the append target: every live directory is now a
    // committed OLD-generation entry, and the seal's sidecar commit
    // recorded each one's file list — the zero-listing precondition
    val sync1 = lake.seal()
    // a directory listing against the data tree (a generation subtree
    // or a shard directory inside one) — the LIST round trips the
    // manifest exists to eliminate; root/sidecar discovery and the skip
    // index (_skip) are metadata, not the data tree
    def dataListings(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      CountingListFs.listed.asScala.toSeq
        .filter(p => p.contains("shard=") || p.matches(""".*gen-\d+$"""))
    }
    // Scala read path (Lake.readFrom): plan + execute, zero data LISTs
    CountingListFs.listed.clear()
    assert(lake.read().count() === 60L)
    assert(dataListings().isEmpty,
      s"read() listed data dirs: ${dataListings().mkString(", ")}")
    // DSv2 format path (GraftBackingTable's manifest index)
    CountingListFs.listed.clear()
    assert(spark.read.format("graft").load(s"$root/lake").count() === 60L)
    assert(dataListings().isEmpty,
      s"format read listed data dirs: ${dataListings().mkString(", ")}")
    // results identical to a listing-resolved read: the manifest serves
    // the same files the tree holds
    assert(spark.read.format("graft").load(s"$root/lake")
      .select("id").as[String].collect().toSet ===
      (0 until 60).map(i => s"m$i").toSet)
    // files view: the same resolved live set, straight from the sidecar
    CountingListFs.listed.clear()
    val viewed = lake.filesView().select("file").as[String].collect().toSet
    assert(dataListings().isEmpty,
      s"filesView listed data dirs: ${dataListings().mkString(", ")}")
    assert(viewed === lake.read().inputFiles.toSet)
    // change feed between two sealed sync points: both endpoints'
    // file sets come straight from their sidecars
    assert(lake.deleteWhere(col("id") === "m7") === 1L)
    val sync2 = lake.seal()
    CountingListFs.listed.clear()
    val ch = lake.changesBetween(sync1, sync2)
    assert(ch.where(col("change") === "delete")
      .select("id").as[String].collect().toSeq === Seq("m7"))
    assert(dataListings().isEmpty,
      s"changesBetween listed data dirs: ${dataListings().mkString(", ")}")
    // recall-calibration staleness after a moved token weighs the live
    // volume of the resolved set: no data LIST either
    lake.calibrateRecall(k = 3, sampleQueries = 4)
    lake.seal() // a fresh last_update token over the same live set
    CountingListFs.listed.clear()
    assert(lake.recallCalibStale() === Some(false))
    assert(dataListings().isEmpty,
      s"recallCalibStale listed data dirs: ${dataListings().mkString(", ")}")
    // expire's wholesale-retirement check resolves its candidates once,
    // from the sidecar (nothing here is old enough to expire)
    lake.buildZoneMap()
    CountingListFs.listed.clear()
    assert(lake.expire(java.time.Instant.EPOCH) === ((0L, 0L)))
    assert(dataListings().isEmpty,
      s"expire listed data dirs: ${dataListings().mkString(", ")}")
    // compaction sizing and validate's skew and drift audit read the
    // recorded file sizes: nothing here is dirty, and nothing is listed
    CountingListFs.listed.clear()
    assert(lake.compactIncremental() === 0L)
    assert(dataListings().isEmpty,
      s"compactIncremental listed data dirs: ${dataListings().mkString(", ")}")
    CountingListFs.listed.clear()
    val audit = lake.validate().head()
    assert(audit.getAs[Long]("rows") === 59L && audit.getAs[Long]("misrouted") === 0L)
    assert(audit.getAs[Long]("max_shard_bytes") > 0L)
    assert(dataListings().isEmpty,
      s"validate listed data dirs: ${dataListings().mkString(", ")}")
    lake.delete()
  }

  test("a sealed sidecar without its file manifest resolves by listing: same rows, same files") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingListFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_countfs").toString
    val root = s"countfs://$dir"
    val lake = Lake(spark, LakeConfig(s"$root/lake", dim = 4, numHashes = 3))
    def rows(from: Int, to: Int) = (from until to)
      .map(i => (s"m$i", Seq(math.sin(i).toFloat, 1f, -i.toFloat, 0.5f), s"doc-$i"))
      .toDF("id", "vector", "document")
    lake.ingest(rows(0, 60))
    val sync1 = lake.seal()
    assert(lake.deleteWhere(col("id") === "m7") === 1L)
    lake.ingest(rows(60, 70))
    val sync2 = lake.seal()
    def dataListings(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      CountingListFs.listed.asScala.toSeq
        .filter(p => p.contains("shard=") || p.matches(""".*gen-\d+$"""))
    }
    def resolved() = (
      lake.read().select("id").as[String].collect().sorted.toSeq,
      spark.read.format("graft").load(s"$root/lake")
        .select("id").as[String].collect().sorted.toSeq,
      lake.changesBetween(sync1, sync2).select("id", "change")
        .as[(String, String)].collect().sorted.toSeq,
      lake.filesView().select("file", "bytes")
        .as[(String, Long)].collect().sorted.toSeq)
    val before = resolved()
    assert(before._1.size === 69 && before._3.size === 11)
    // the newest sidecar as an older writer left it: no `files` array
    val p = new org.apache.hadoop.fs.Path(s"$root/lake/_meta.$sync2.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sidecar = ControlFiles.read[ControlFiles.LakeSidecar](fs, p)
    assert(sidecar.files.exists(_.nonEmpty))
    ControlFiles.write(fs, p, sidecar.copy(files = None), overwrite = true)
    CountingListFs.listed.clear()
    assert(resolved() === before)
    assert(dataListings().nonEmpty,
      "an unrecorded sidecar must be resolved by listing its directories")
    lake.delete()
  }

  test("a routed search on an unsealed lake LISTs the root, the current generation and its probed directories only") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingListFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_countfs").toString
    val root = s"countfs://$dir"
    val lake = Lake(spark, LakeConfig(s"$root/lake", dim = 8, numHashes = 6))
    val rng = new scala.util.Random(11)
    def rows(from: Int, to: Int) = (from until to)
      .map(i => (s"m$i", Seq.fill(8)(rng.nextGaussian().toFloat), s"doc-$i"))
      .toDF("id", "vector", "document")
    // an older recorded generation plus a current generation that takes
    // appends in nearly every shard directory — never sealed after
    lake.ingest(rows(0, 600))
    lake.seal()
    lake.ingest(rows(600, 1200))
    def lakeListings(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      CountingListFs.listed.asScala.toSeq.filter(_.contains(s"$dir/lake"))
    }
    val currentDirs = lake.read().where(col("id") >= "m600")
      .select("shard").distinct().count()
    assert(currentDirs > 32, "fixture needs a wide current generation")
    def idDist(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "dist").as[(String, Double)].collect().toSeq
    val q = Seq.fill(8)(rng.nextGaussian())
    CountingListFs.listed.clear()
    val single = idDist(lake.topK(q, 5))
    assert(lakeListings().size <= 3,
      s"topK listed: ${lakeListings().mkString(", ")}")
    assert(single === idDist(lake.topKFiltered(q, 5,
      col("shard") === lake.lsh.shardOf(q))))
    CountingListFs.listed.clear()
    val multi = idDist(lake.topKMultiProbe(q, 5))
    assert(lakeListings().size <= 2 + 7,
      s"topKMultiProbe listed: ${lakeListings().mkString(", ")}")
    val r = lake.lsh.shardOf(q)
    assert(multi === idDist(lake.topKFiltered(q, 5,
      col("shard").isin((r +: (0 until 6).map(j => r ^ (1 << j))): _*))))
    lake.delete()
  }
}
