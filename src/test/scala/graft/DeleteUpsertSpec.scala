package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Row-level maintenance ops: DELETE WHERE rewrites only the affected
  * shard directories (unaffected files are bit-untouched), upsert
  * replaces by caller-supplied id and appends the rest. Both verify
  * their rewrite before any destructive swap. */
class DeleteUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def freshLake(): Lake = {
    val dir = Files.createTempDirectory("graft_del_test").toString
    Lake(spark, LakeConfig(s"$dir/lake", dim = 5, numHashes = 4))
  }

  /** 32 deterministic vectors spread over shards, ids "r0".."r31". */
  private def seed(lake: Lake): Unit = {
    val rng = new scala.util.Random(5)
    val rows = (0 until 32).map { i =>
      (s"r$i", Seq.fill(5)(rng.nextGaussian().toFloat), s"doc $i")
    }.toDF("id", "vector", "document")
    lake.ingest(rows)
  }

  /** Live files per partition-directory NAME, signed by full path +
    * length + mtime — one dir name may have live copies in several
    * generations (old rewrite + later appends). */
  private def files(lake: Lake): Map[String, Set[String]] = {
    val fs = new org.apache.hadoop.fs.Path(lake.cfg.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    lake.liveDirPaths().groupBy(_._1).map { case (d, ps) =>
      d -> ps.flatMap { case (_, p) =>
        fs.listStatus(p).filter(_.isFile).map(f =>
          s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
      }.toSet
    }
  }

  test("deleteWhere removes only matching rows and returns the count") {
    val lake = freshLake()
    seed(lake)
    assert(lake.count() === 32L)
    val victims = lake.read().where(col("document").isin("doc 3", "doc 17")).count()
    assert(victims === 2L)
    val deleted = lake.deleteWhere(col("document").isin("doc 3", "doc 17"))
    assert(deleted === 2L)
    assert(lake.count() === 30L)
    assert(lake.read().where(col("document").isin("doc 3", "doc 17")).count() === 0L)
  }

  test("deleteWhere leaves unaffected shard directories bit-untouched") {
    val lake = freshLake()
    seed(lake)
    val target = lake.read().where(col("document") === "doc 7")
      .select("shard").head().getInt(0)
    val before = files(lake)
    assert(lake.deleteWhere(col("document") === "doc 7") === 1L)
    val after = files(lake)
    val targetDir = s"shard=$target"
    // the matched shard was rewritten...
    assert(before(targetDir) !== after.getOrElse(targetDir, Set.empty[String]))
    // ...every other directory kept its exact files (name, size, mtime)
    (before.keySet - targetDir).foreach { d =>
      assert(after(d) === before(d), s"unaffected dir $d was rewritten")
    }
  }

  test("deleteWhere with no matches is a no-op returning 0") {
    val lake = freshLake()
    seed(lake)
    val before = files(lake)
    assert(lake.deleteWhere(col("document") === "no such doc") === 0L)
    assert(files(lake) === before)
    assert(lake.count() === 32L)
  }

  test("deleting every row of a shard retires its directory") {
    val lake = freshLake()
    seed(lake)
    val someShard = lake.read().select("shard").head().getInt(0)
    val inShard = lake.read().where(col("shard") === someShard).count()
    assert(lake.deleteWhere(col("shard") === someShard) === inShard)
    assert(!files(lake).contains(s"shard=$someShard"))
    assert(lake.count() === 32L - inShard)
  }

  test("upsert replaces existing ids in place and appends new ones") {
    val lake = freshLake()
    seed(lake)
    val rng = new scala.util.Random(99)
    val batch = Seq(
      ("r3", Seq.fill(5)(rng.nextGaussian().toFloat), "doc 3 v2"), // replace
      ("r17", Seq.fill(5)(rng.nextGaussian().toFloat), "doc 17 v2"), // replace
      ("r100", Seq.fill(5)(rng.nextGaussian().toFloat), "brand new") // insert
    ).toDF("id", "vector", "document")
    val replaced = lake.upsert(batch)
    assert(replaced === 2L)
    assert(lake.count() === 33L)
    val docs = lake.read().where(col("id").isin("r3", "r17", "r100"))
      .select("id", "document").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(docs === Map("r3" -> "doc 3 v2", "r17" -> "doc 17 v2", "r100" -> "brand new"))
    // exactly one version of each replaced id survives
    assert(lake.read().where(col("id") === "r3").count() === 1L)
  }

  test("upsert on an empty lake is a plain ingest") {
    val lake = freshLake()
    val batch = Seq(("a1", Seq(1f, 0f, 0f, 0f, 0f), "first")).toDF("id", "vector", "document")
    assert(lake.upsert(batch) === 0L)
    assert(lake.count() === 1L)
    assert(lake.read().head().getAs[String]("id") === "a1")
  }

  test("upsert refuses a batch with duplicate ids (no deterministic keep-last exists)") {
    val lake = freshLake()
    seed(lake)
    val dup = Seq(
      ("rX", Seq(1f, 0f, 0f, 0f, 0f), "v1"),
      ("rX", Seq(0f, 1f, 0f, 0f, 0f), "v2")).toDF("id", "vector", "document")
    val e = intercept[IllegalArgumentException](lake.upsert(dup))
    assert(e.getMessage.contains("duplicate ids"))
    assert(lake.count() === 32L, "a refused upsert must not modify the lake")
  }

  test("upsert refuses duplicate ids on the bootstrap (empty-lake) path too") {
    val lake = freshLake()
    val dup = Seq(
      ("rX", Seq(1f, 0f, 0f, 0f, 0f), "v1"),
      ("rX", Seq(0f, 1f, 0f, 0f, 0f), "v2")).toDF("id", "vector", "document")
    // before the fix the bootstrap branch ingested BOTH versions and the
    // lake came up already violating the unique-id invariant
    val e = intercept[IllegalArgumentException](lake.upsert(dup))
    assert(e.getMessage.contains("duplicate ids"))
    assert(!lake.exists(), "a refused bootstrap upsert must not create the lake")
  }

  test("an empty upsert batch is a no-op returning 0") {
    val lake = freshLake()
    seed(lake)
    val empty = Seq.empty[(String, Seq[Float], String)].toDF("id", "vector", "document")
    assert(lake.upsert(empty) === 0L)
    assert(lake.count() === 32L)
  }

  test("vacuum sweeps an uncommitted (crashed-op) generation tree, not the lake") {
    val lake = freshLake()
    seed(lake)
    val fs = new org.apache.hadoop.fs.Path(lake.cfg.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a maintenance op that wrote its new generation and died
    // BEFORE the sidecar commit: the tree exists but nothing names it
    val stranded = new org.apache.hadoop.fs.Path(
      s"${lake.cfg.location}/gen-99/shard=0")
    fs.mkdirs(stranded)
    val f = fs.create(new org.apache.hadoop.fs.Path(stranded, "part-0.parquet"), true)
    f.write(1); f.close()
    assert(lake.count() === 32L, "the uncommitted tree is invisible to readers")
    assert(lake.vacuum() === 1L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${lake.cfg.location}/gen-99")))
    assert(lake.count() === 32L, "vacuum must not touch the live lake")
    assert(lake.vacuum() === 0L)
  }

  test("a crashed op's generation number is never reused (no file mixing)") {
    val lake = freshLake()
    seed(lake)
    val fs = new org.apache.hadoop.fs.Path(lake.cfg.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // stranded uncommitted tree from a crashed rewrite
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"${lake.cfg.location}/gen-7/shard=0"))
    // the next rewrite must skip PAST gen-7, not write into it
    assert(lake.deleteWhere(col("id") === "r0") === 1L)
    assert(lake.currentGenDir.endsWith("gen-8"),
      s"expected gen-8, got ${lake.currentGenDir}")
    assert(lake.count() === 31L)
    // and vacuum sweeps the stranded tree afterwards
    assert(lake.vacuum() >= 1L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${lake.cfg.location}/gen-7")))
    assert(lake.count() === 31L)
  }

  test("repair after a mid-op crash: committed rows intact, scratch + lock swept") {
    val lake = freshLake()
    seed(lake)
    val before = lake.read().orderBy("id").collect().map(_.toString).toSeq
    val fs = new org.apache.hadoop.fs.Path(lake.cfg.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a rewrite crashing between its generation write and the
    // sidecar commit: half-written tree + stranded writer lock. The
    // committed state is UNTOUCHED by construction — there is no swap
    // window in the generation-pointer layout.
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"${lake.cfg.location}/gen-50/shard=1"))
    fs.create(new org.apache.hadoop.fs.Path(lake.cfg.location, Lake.lockName),
      false).close()
    assert(lake.read().orderBy("id").collect().map(_.toString).toSeq === before,
      "a crash never dents committed rows — readers see the last commit")
    intercept[java.util.ConcurrentModificationException](
      lake.deleteWhere(col("id") === "r0")) // mutations refused while locked
    assert(lake.repair() === 2L, "lock + stranded tree swept")
    assert(lake.read().orderBy("id").collect().map(_.toString).toSeq === before)
    assert(lake.deleteWhere(col("id") === "r0") === 1L,
      "lock cleared: maintenance ops work again")
  }

  test("time travel: readAt serves each commit's exact snapshot until vacuum retires it") {
    val lake = freshLake()
    seed(lake)
    val before = lake.read().orderBy("id").collect().map(_.toString).toSeq
    val preVersion = lake.history()
      .orderBy(col("version").desc).head().getLong(0)
    assert(lake.deleteWhere(col("id") === "r0") === 1L)
    assert(lake.count() === 31L)
    // the pre-delete commit replays exactly — its generation still holds
    // the affected dir's old copy, dead-in-place
    assert(lake.readAt(preVersion).orderBy("id").collect()
      .map(_.toString).toSeq === before)
    val postVersion = lake.history()
      .orderBy(col("version").desc).head().getLong(0)
    assert(postVersion > preVersion)
    assert(lake.readAt(postVersion).count() === 31L)
    // vacuum after THIS delete retires nothing the old snapshot needs
    // (the survivors still live in the original generation)...
    assert(lake.vacuum() === 0L)
    assert(lake.readAt(preVersion).count() === 32L)
    // ...but compact orphans the original generations, and vacuum then
    // retires them: the old snapshot now fails loudly instead of
    // silently returning partial rows
    lake.compact()
    assert(lake.vacuum() >= 1L)
    assert(lake.count() === 31L)
    val gone = intercept[IllegalStateException](lake.readAt(preVersion).count())
    assert(gone.getMessage.contains("vacuumed"),
      "a swept snapshot must fail with the typed vacuumed error, not a raw scan failure")
    // a never-committed version is refused by name
    val e = intercept[IllegalArgumentException](lake.readAt(999999L))
    assert(e.getMessage.contains("no sidecar version"))
  }

  test("a SEALED snapshot refuses after compact + vacuum sweep its generations") {
    val lake = freshLake()
    seed(lake)
    val snap = lake.seal()
    assert(lake.readAt(snap).count() === 32L)
    lake.compact() // rebuilds the whole live tree into a new generation
    assert(lake.vacuum() >= 1L, "the sealed snapshot's generations are dead and swept")
    // sealed commits always record gen_has_data=false (seal rolls to a
    // fresh empty generation), so the vacuumed signal here is a
    // MANIFEST-NAMED generation missing from the root listing — the
    // refusal must be the typed error, never Spark's raw path-not-found
    // and never a silently partial/empty read
    val e = intercept[IllegalStateException](lake.readAt(snap).count())
    assert(e.getMessage.contains("vacuumed"))
  }

  test("readAt refuses a snapshot whose OWN generation was vacuumed, even with live manifest dirs") {
    val lake = freshLake()
    seed(lake)
    // two victims from the SAME shard: both deletes rewrite that one
    // directory, so the first delete's generation holds the only
    // between-deletes copy and dies when the second delete supersedes it
    val someShard = lake.read().select("shard").head().getInt(0)
    val ids = lake.read().where(col("shard") === someShard)
      .select("id").limit(2).collect().map(_.getString(0))
    assume(ids.length === 2, "need a shard with two rows")
    assert(lake.deleteWhere(col("id") === ids(0)) === 1L)
    val midVersion = lake.history()
      .orderBy(col("version").desc).head().getLong(0)
    assert(lake.readAt(midVersion).count() === 31L)
    assert(lake.deleteWhere(col("id") === ids(1)) === 1L)
    assert(lake.vacuum() >= 1L, "the mid generation is dead and swept")
    // the mid snapshot's manifest still names LIVE gen-1 dirs — a
    // partial read would "succeed" with silently missing rows; the
    // gen_has_data record makes it refuse instead
    val e = intercept[IllegalStateException](lake.readAt(midVersion).count())
    assert(e.getMessage.contains("vacuumed"))
    assert(lake.count() === 30L)
  }

  test("repair on a healthy lake is a no-op returning 0") {
    val lake = freshLake()
    seed(lake)
    val before = files(lake)
    assert(lake.repair() === 0L)
    assert(files(lake) === before)
  }

  test("vacuum never touches an unrelated sibling lake sharing the name prefix") {
    val lake = freshLake()
    seed(lake)
    val fs = new org.apache.hadoop.fs.Path(lake.cfg.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // /dir/lake__v2 is a DIFFERENT lake, not a scratch tree — the old
    // open-ended `name + "__"` prefix match recursively deleted it
    val sibling = new org.apache.hadoop.fs.Path(lake.cfg.location + "__v2/shard=0")
    fs.mkdirs(sibling)
    assert(lake.vacuum() === 0L)
    assert(fs.exists(sibling), "sibling lake must survive vacuum")
  }

  test("rewrites preserve the materialized packed column (compressed retrieval intact)") {
    val dir = Files.createTempDirectory("graft_del_packed").toString
    val lake = Lake(spark, LakeConfig(s"$dir/lake", dim = 5, numHashes = 4,
      packSignBits = true))
    val rng = new scala.util.Random(11)
    lake.ingest((0 until 16).map { i =>
      (s"p$i", Seq.fill(5)(rng.nextGaussian().toFloat), s"doc $i")
    }.toDF("id", "vector", "document"))
    assert(lake.deleteWhere(col("id") === "p5") === 1L)
    val up = Seq(("p6", Seq(1f, 0f, 0f, 0f, 0f), "doc 6 v2"))
      .toDF("id", "vector", "document")
    assert(lake.upsert(up) === 1L)
    // every surviving row's stored word still equals the recomputed
    // sign-pack of its vector — a rewrite that dropped or stale-copied
    // the aux column would break compressed retrieval silently
    val bad = lake.read().where(
      col("packed") =!= graft.functions.VectorFunctions.signPack(col("vector"))).count()
    assert(bad === 0L)
    assert(lake.count() === 15L)
    assert(lake.topKCompressed(Seq(1.0, 0, 0, 0, 0), 3).count() === 3L)
  }

  test("validate: healthy lake audits clean; foreign files and dup ids are counted") {
    val lake = freshLake()
    seed(lake)
    val healthy = lake.validate().head()
    assert(healthy.getLong(0) === 32L)
    assert(healthy.getLong(1) === 0L, "no misrouted rows on a healthy lake")
    assert(healthy.getLong(2) === 0L, "ids unique")
    assert((healthy.getLong(3), healthy.getLong(4)) === ((-1L, -1L)),
      "unconfigured aux columns report -1, not 0")
    assert(healthy.getLong(5) === 0L, "every vector carries cfg.dim entries")
    // plain ingest (unlike upsert) accepts a repeated caller id — the
    // audit is what surfaces it
    lake.ingest(Seq(("r3", Seq(1f, 0f, 0f, 0f, 0f), "dup of r3"))
      .toDF("id", "vector", "document"))
    assert(lake.validate().head().getLong(2) === 1L, "duplicate id counted")
    // a foreign file dropped into the wrong shard directory: rows whose
    // own vector routes elsewhere — pruned queries would miss them
    val fs = new org.apache.hadoop.fs.Path(lake.cfg.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = lake.liveDirPaths().map(_._2).sortBy(_.getName)
    val srcFile = fs.listStatus(dirs.head)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet")).head.getPath
    val movedRows = spark.read.parquet(srcFile.toString).count()
    assert(fs.rename(srcFile,
      new org.apache.hadoop.fs.Path(dirs.last, "foreign-" + srcFile.getName)))
    // an out-of-band move is part of the lake only where the current
    // generation resolves by listing
    PreRecordingSidecar(spark, lake)
    assert(lake.validate().head().getLong(1) === movedRows,
      "every row of the misplaced file is flagged as misrouted")
  }

  test("validate counts wrong-dimension foreign rows (bad_dim); queries still run") {
    val lake = freshLake() // dim = 5
    seed(lake)
    // a foreign writer drops a file with the right COLUMNS but dim-3
    // vectors into a live shard dir: schema validation can't see it
    // (array<float> is array<float>), the one-scan audit must
    val target = files(lake).keys.head
    val dir = lake.liveDirPaths().collectFirst {
      case (d, p) if d == target => p }.get
    Seq(("alien", Seq(1f, 2f, 3f), "wrong dim"))
      .toDF("id", "vector", "document")
      .write.mode("append").parquet(dir.toString)
    // a foreign file is part of the lake only where the current
    // generation resolves by listing
    PreRecordingSidecar(spark, lake)
    val r = lake.validate().head()
    assert(r.getLong(0) === 33L)
    assert(r.getLong(5) === 1L, "the dim-3 row is counted")
    // retrieval survives (kernels guard on min-length); the audit, not
    // a crash, is how the corruption surfaces
    assert(lake.topKExact(Seq(1.0, 0, 0, 0, 0), 3).count() === 3L)
  }

  test("validate: materialized packed and pq_code words audit clean when configured") {
    val dir = Files.createTempDirectory("graft_validate_aux").toString
    val rng = new scala.util.Random(31)
    val data = (0 until 64).map { i =>
      (s"v$i", Seq.fill(16)(rng.nextGaussian().toFloat), s"doc $i")
    }.toDF("id", "vector", "document")
    val pq = graft.operators.Pq.round6(graft.operators.Pq.train(
      data.select(col("id"), col("vector").as("vec")), "vec", "id",
      dim = 16, m = 4, k = 8, iters = 2))
    val lake = Lake(spark, LakeConfig(s"$dir/lake", dim = 16, numHashes = 3,
      packSignBits = true, pqCodebooks = Some(pq)))
    lake.ingest(data)
    val r = lake.validate().head()
    assert(r.getLong(0) === 64L)
    assert(r.getLong(3) === 0L, "stored packed words match their vectors")
    assert(r.getLong(4) === 0L, "stored pq codes match their codebooks")
  }

  test("invariant sweep: deleteWhere removes exactly the matching set at any selectivity") {
    // thresholds spanning none-deleted .. all-deleted (string compare on
    // "doc N" is deterministic); each run checks returned count, final
    // count, and that no matching row survives
    for (t <- Seq("doc 0", "doc 3", "doc 9", "doc 99")) {
      val lake = freshLake()
      seed(lake)
      val pred = col("document") < t
      val expected = lake.read().where(pred).count()
      assert(lake.deleteWhere(pred) === expected, s"threshold $t")
      assert(lake.count() === 32L - expected, s"threshold $t")
      assert(lake.read().where(pred).count() === 0L, s"threshold $t")
    }
  }

  test("invariant sweep: repeated mixed upserts keep ids unique and counts additive") {
    val lake = freshLake()
    seed(lake)
    val rng = new scala.util.Random(3)
    var expected = 32L
    for (round <- 0 until 3) {
      // ids drawn from 0..39: a mix of existing (r0..r31) and new rows
      val ids = (0 until 8).map(_ => s"r${rng.nextInt(40)}").distinct
      val existing = lake.read().where(col("id").isin(ids: _*)).count()
      val batch = ids.map(id =>
        (id, Seq.fill(5)(rng.nextGaussian().toFloat), s"v$round $id"))
        .toDF("id", "vector", "document")
      assert(lake.upsert(batch) === existing, s"round $round")
      expected += ids.length - existing
      assert(lake.count() === expected, s"round $round")
      assert(lake.read().select("id").distinct().count() === expected,
        s"round $round: ids must stay unique")
    }
  }

  test("ingest after a full deleteWhere revives the lake in place") {
    val lake = freshLake()
    seed(lake)
    assert(lake.deleteWhere(lit(true)) === 32L)
    assert(lake.count() === 0L)
    // the location still carries _meta.json; a fresh ingest must append
    // cleanly into the marker-only tree
    lake.ingest(Seq(("again", Seq(1f, 0f, 0f, 0f, 0f), "revived"))
      .toDF("id", "vector", "document"))
    assert(lake.count() === 1L)
    assert(lake.read().head().getAs[String]("document") === "revived")
  }

  test("deleteWhere on a user-keyed lake handles escape-worthy partition values") {
    val dir = Files.createTempDirectory("graft_del_keyed").toString
    val lake = Lake(spark, LakeConfig(s"$dir/lake", dim = 3,
      partitionKey = Some("tenant")))
    // "a:b" and "x%2F" force Spark's %XX partition-path escaping — the
    // dir-name decode in the swap must round-trip them
    lake.ingest(Seq(
      ("t1", Seq(1f, 0f, 0f), "d1", "a:b"),
      ("t2", Seq(0f, 1f, 0f), "d2", "a:b"),
      ("t3", Seq(0f, 0f, 1f), "d3", "plain"),
      ("t4", Seq(1f, 1f, 0f), "d4", "x%2F"))
      .toDF("id", "vector", "document", "tenant"))
    assert(lake.deleteWhere(col("tenant") === "a:b" && col("id") === "t1") === 1L)
    assert(lake.count() === 3L)
    assert(lake.read().where(col("tenant") === "a:b").count() === 1L)
    assert(lake.read().where(col("tenant") === "x%2F").count() === 1L,
      "untouched escaped partition must survive the swap intact")
  }

  test("a caller-supplied id survives plain ingest (upsert identity contract)") {
    val lake = freshLake()
    lake.ingest(Seq(("keep-me", Seq(1f, 0f, 0f, 0f, 0f), "d")).toDF("id", "vector", "document"))
    assert(lake.read().head().getAs[String]("id") === "keep-me")
  }

  test("deleteWhere on a user-keyed lake rewrites the null partition from its scoped slice") {
    val dir = Files.createTempDirectory("graft_del_null").toString
    val lake = Lake(spark, LakeConfig(s"$dir/lake", dim = 3,
      partitionKey = Some("tenant")))
    def batch(rs: (String, String)*) = rs.map { case (id, t) =>
      (id, Seq(id.length.toFloat, 1f, 0f), s"d-$id", t)
    }.toDF("id", "vector", "document", "tenant")
    lake.ingest(batch(("n1", null), ("n2", null), ("a1", "a"), ("b1", "b")))
    lake.seal()
    // the null partition now has live entries in two generations
    lake.ingest(batch(("n3", null), ("a2", "a")))
    assert(lake.deleteWhere(col("id").isin("n1", "a1")) === 2L)
    assert(lake.read().select("id", "tenant").as[(String, String)]
      .collect().toSet ===
      Set(("n2", null), ("n3", null), ("a2", "a"), ("b1", "b")))
  }
}
