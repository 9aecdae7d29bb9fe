package graft

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.ControlFiles._
import graft.operators.{Ivf, Pq}

object CountingOpenFs {
  /** Every path `open` was called on, in order — the GET ledger. */
  val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** [[CountingListFs]] that also records every `open` — LIST and GET
  * round trips side by side. */
class CountingOpenFs extends CountingListFs {
  override def getScheme: String = "countopenfs"
  override def getUri: URI = URI.create("countopenfs:///")
  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    CountingOpenFs.opened.add(f.toString)
    super.open(f, bufferSize)
  }
}

/** The typed control-file codec: every file decodes from a literal in
  * the exact shape older writers produced and round-trips, torn bodies
  * never decode as smaller plausible ones, and a `graft` table load
  * reads the lake state once. */
class ControlFilesSpec extends SparkSpec {
  import spark.implicits._

  /** The six characters of the JSON escape for U+0001. */
  private val U1 = "\\u0001"

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_ctl_$tag").toString

  private def localFs: FileSystem =
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  private def roundTrips[T <: AnyRef](v: T)(implicit ct: scala.reflect.ClassTag[T]): Unit =
    assert(decode[T](encode(v), "round trip") === v)

  /** Cut a file to its first half — what a torn copy leaves. */
  private def truncate(fs: FileSystem, p: Path): Unit = {
    val body = readControlFile(fs, p)
    val out = fs.create(p, true)
    try out.write(body.take(body.length / 2).getBytes("UTF-8")) finally out.close()
  }

  private def rows(n: Int, tag: String) =
    (0 until n).map(i => (s"$tag-$i",
      Seq(math.sin(i + tag.length).toFloat, math.cos(i * 3).toFloat, 0.5f),
      s"doc $tag $i")).toDF("id", "vector", "document")

  test("lake sidecar: a literal in the writer's shape decodes whole and round-trips") {
    val body = """{"last_update": "2026-01-02T03:04:05Z", "dim": 4, "metric": "l2", """ +
      """"num_shards": 8, "lsh_seed": 7, "pq_fingerprint": "0a1b", "pack_sign_bits": true, """ +
      s""""sealed": true, "extra_cols": ["lang${U1}string", "a]b${U1}double"], """ +
      """"reshard_from": 8, "reshard_to": 32, "reshard_pending": [{"d": "shard=1", "g": 2}], """ +
      """"reshard_skip": true, "files": [{"fd": "shard=1", "fg": 2, "fn": "a.parquet;b.parquet", """ +
      """"fl": "10;20", "fm": "100;200"}, {"fd": "shard=2", "fg": 2, "fn": "x", "fl": "1;2", """ +
      """"fm": "3"}], "generation": 3, "live": [["shard=1", 2], ["shard=\"q\\", 1]], """ +
      """"gen_has_data": false, "from_a_newer_writer": {"x": [1]}}"""
    val sc = decode[LakeSidecar](body, "literal")
    roundTrips(sc)
    val st = sc.toState
    assert(st.generation === 3L)
    assert(st.live === Seq("shard=1" -> 2L, "shard=\"q\\" -> 1L))
    assert(st.genHasData === Some(false))
    assert(st.isSealed)
    assert(st.extraCols === Seq("lang" -> "string", "a]b" -> "double"))
    assert(st.sidecarShards === Some(8L))
    assert(st.reshard === Some(Lake.ReshardState(3, 5, Seq("shard=1" -> 2L), true)))
    assert(st.lastUpdate === Some("2026-01-02T03:04:05Z"))
    // the entry whose length list disagrees with its names is dropped:
    // readers list that directory instead
    assert(st.liveFiles === Map(("shard=1", 2L) -> Seq(
      Lake.LiveFile("a.parquet", 10L, 100L), Lake.LiveFile("b.parquet", 20L, 200L))))
    assert(st.config === Some(Lake.SidecarConfig(Some(4L), Some("l2"), Some(7L),
      Some("0a1b"), packSignBits = true, None, None)))
    // a user-keyed lake: no seed, the key's name and type instead
    val keyed = decode[LakeSidecar]("""{"last_update": "t", "dim": 2, "metric": "cosine", """ +
      """"num_shards": -1, "partition_key": "k\"ey", "partition_key_type": "int", """ +
      """"generation": 1, "live": [], "gen_has_data": true}""", "literal")
    roundTrips(keyed)
    assert(keyed.toState.config.flatMap(_.partitionKey) === Some("k\"ey"))
    assert(keyed.toState.config.flatMap(_.partitionKeyType) === Some("int"))
    assert(keyed.toState.sidecarShards === Some(-1L))
    // the pre-v2 single-file shape: no generation, no live list
    assert(decode[LakeSidecar]("""{"last_update": "t", "dim": 3}""", "legacy")
      .toState.generation === 1L)
  }

  test("lake sidecar: the writer keeps the on-disk keys and pair shapes") {
    val st = Lake.LakeState(2L, Seq("shard=1" -> 1L), extraCols = Seq("x" -> "string"),
      reshard = Some(Lake.ReshardState(2, 3, Seq("shard=0" -> 1L))))
    val body = encode(LakeSidecar.of(st, LakeConfig("/x", dim = 4, numHashes = 3),
      numShards = 8L, sealedCommit = true, genHasData = false,
      files = Seq(("shard=1", 1L) -> Seq(Lake.LiveFile("f.parquet", 5L, 6L)))))
    Seq(""""live":[["shard=1",1]]""", """"reshard_pending":[{"d":"shard=0","g":1}]""",
      """"files":[{"fd":"shard=1","fg":1,"fn":"f.parquet","fl":"5","fm":"6"}]""",
      s""""extra_cols":["x${U1}string"]""", """"sealed":true""", """"lsh_seed":42""",
      """"num_shards":8""", """"gen_has_data":false""").foreach(k =>
      assert(body.contains(k), s"$k missing from $body"))
    assert(!body.contains("pack_sign_bits") && !body.contains("partition_key"))
    assert(decode[LakeSidecar](body, "written").toState.copy(lastUpdate = None,
      config = None, sidecarShards = None, isSealed = false, genHasData = None) ===
      st.copy(liveFiles = Map(("shard=1", 1L) -> Seq(Lake.LiveFile("f.parquet", 5L, 6L)))))
  }

  test("derived sidecar, state pointer, calibration, zone spec, model metas, sink ledger: literals round-trip") {
    val derived = decode[DerivedSidecar]("""{"derived": true, "derived_of": "file:/t/l", """ +
      """"base_version": 4, "dim": 4, "num_shards": 8, "lsh_seed": 42, "metric": "cosine", """ +
      """"generation": 2, "schema_ddl": "id STRING,shard INT", "files": [{"fd": """ +
      """"gen-2/shard=1", "fn": "a;b", "fl": "1;2", "fm": "3;4"}], """ +
      """"live": ["gen-2/shard=1", "gen-1/shard=2"]}""", "literal")
    roundTrips(derived)
    val ds = derived.toState("/t/d")
    assert(ds === DerivedTable.State("file:/t/l", 4L, 4, 8, 42L, "cosine", 2L,
      Seq("gen-2/shard=1", "gen-1/shard=2"), "id STRING,shard INT",
      Map("gen-2/shard=1" -> Seq(Lake.LiveFile("a", 1L, 3L), Lake.LiveFile("b", 2L, 4L)))))
    assert(decode[DerivedSidecar](DerivedTable.render(ds), "rendered").toState("/t/d") === ds)
    intercept[Unparseable](decode[DerivedSidecar]("""{"derived": true, "dim": 4}""", "partial")
      .toState("/t/d"))

    val ptr = decode[StatePointer]("""{"batch_id": 3, "owners": {"0": 2, "17": 5000000000}, """ +
      """"complete": true}""", "literal")
    roundTrips(ptr)
    assert(ptr.batchId === Some(3L) && ptr.complete)
    assert(ptr.owners === Map(0 -> 2L, 17 -> 5000000000L))
    intercept[Unparseable](decode[StatePointer]("""{"batch_id": 1, "owners": {"7": 0""", "torn"))

    val calib = decode[RecallCalib]("""{"dim": 4, "num_hashes": 3, "lsh_seed": 42, """ +
      """"metric": "cosine", "k": 20, "sample": 32, "stamp": "2026-01-01T00:00:00Z", """ +
      """"bytes": 12345, "recalls": [0.5, 0.75, 1.0, 1]}""", "literal")
    roundTrips(calib)
    assert(calib.recalls === Seq(0.5, 0.75, 1.0, 1.0))
    assert(calib.bytes === Some(12345L) && calib.k === Some(20) && calib.lshSeed === Some(42L))

    // the zone map is the lake sidecar's `zone_fields` plus, per entry,
    // an `fz` list of file stats aligned with the names: an empty element
    // is a file without stats, and a list of another length than the
    // names gives the whole entry none
    val zone = decode[LakeSidecar]("""{"generation": 2, "live": [["shard=1", 1], """ +
      """["shard=2", 1]], "files": [{"fd": "shard=1", "fg": 1, "fn": "a;b;c", """ +
      """"fl": "1;2;3", "fm": "4;5;6", "fz": "8,8,100,200,1.5,NaN,,3.0;;3,2,,,,,,"}, """ +
      """{"fd": "shard=2", "fg": 1, "fn": "x;y", "fl": "1;2", "fm": "3;4", """ +
      """"fz": "8,8,100,200,1.0,2.0,1.0,2.0"}], "zone_fields": ["q", "a\"b.c"]}""",
      "literal")
    roundTrips(zone)
    val zs = zone.toState
    assert(zs.zoneFields === Some(Seq("q", "a\"b.c")))
    val Seq(a, b, c) = zs.liveFiles(("shard=1", 1L))
    assert((a.name, a.len, a.mod, b.stats, c.stats) === (("a", 1L, 4L, None,
      Some(Lake.ZoneStats(3L, 2L, None, None, Seq((None, None), (None, None)))))))
    val za = a.stats.get
    assert((za.rows, za.tsRows, za.minTs, za.maxTs) === ((8L, 8L, Some(100L), Some(200L))))
    assert(za.fields.head._1 === Some(1.5) && za.fields.head._2.exists(_.isNaN))
    assert(za.fields(1) === ((None, Some(3.0))))
    assert(zs.liveFiles(("shard=2", 1L)) ===
      Seq(Lake.LiveFile("x", 1L, 3L), Lake.LiveFile("y", 2L, 4L)))
    // the writer: stats and fields round-trip through a commit's body
    val zoneCfg = LakeConfig("/x", dim = 4, numHashes = 3)
    val mapped = Lake.LakeState(2L, Seq("shard=1" -> 1L), zoneFields = Some(Seq("q")))
    val withStats = Seq(Lake.LiveFile("f", 5L, 6L, Some(Lake.ZoneStats(2L, 2L,
      Some(-7L), Some(9L), Seq((Some(-0.5), Some(1e300)))))), Lake.LiveFile("g", 1L, 2L))
    val zoneBody = encode(LakeSidecar.of(mapped, zoneCfg, numShards = 8L,
      sealedCommit = false, genHasData = true, files = Seq(("shard=1", 1L) -> withStats)))
    assert(zoneBody.contains(""""fz":"2,2,-7,9,-0.5,1.0E300;""""))
    assert(zoneBody.contains(""""zone_fields":["q"]"""))
    val back = decode[LakeSidecar](zoneBody, "written").toState
    assert(back.liveFiles(("shard=1", 1L)) === withStats)
    assert(back.zoneFields === Some(Seq("q")))
    // no zone map: the writer adds no key, so the body is byte for byte
    // what it was before the zone map moved into the sidecar
    val plainBody = encode(LakeSidecar.of(Lake.LakeState(2L, Seq("shard=1" -> 1L)),
      zoneCfg, numShards = 8L, sealedCommit = false, genHasData = true,
      files = Seq(("shard=1", 1L) -> Seq(Lake.LiveFile("f", 5L, 6L))))
      .copy(lastUpdate = Some("t")))
    assert(plainBody === """{"last_update":"t","dim":4,"metric":"cosine",""" +
      """"num_shards":8,"lsh_seed":42,"files":[{"fd":"shard=1","fg":1,"fn":"f",""" +
      """"fl":"5","fm":"6"}],"generation":2,"live":[["shard=1",1]],"gen_has_data":true}""")

    val ivf = decode[IvfMeta](s"""{"k": 4, "dim": 64, "fingerprint": "${"0" * 32}"}""", "literal")
    roundTrips(ivf)
    assert(ivf === IvfMeta(4, 64, "0" * 32))
    val pq = decode[PqMeta]("""{"m": 2, "k": 16, "sub_dim": 4, "fingerprint": "ab"}""", "literal")
    roundTrips(pq)
    assert(pq === PqMeta(2, 16, 4, "ab"))

    // the sink ledger is the lake sidecar's `sinks` list: each sink's
    // committed head, written only once a sink has committed
    val sinks = decode[LakeSidecar]("""{"generation": 2, "live": [], "sinks": """ +
      """[{"sink": "abcdef012345", "batch": 7}, {"sink": "0123456789ab", "batch": 0}]}""",
      "literal")
    roundTrips(sinks)
    assert(sinks.toState.sinks === Map("abcdef012345" -> 7L, "0123456789ab" -> 0L))
    val cfg = LakeConfig("/x", dim = 4, numHashes = 3)
    def written(st: Lake.LakeState) = encode(LakeSidecar.of(st, cfg, numShards = 8L,
      sealedCommit = false, genHasData = true, files = Nil))
    val plain = Lake.LakeState(2L, Nil)
    assert(!written(plain).contains("sinks"), "a lake with no sink writes no sink key")
    val withSinks = plain.copy(sinks = Map("abcdef012345" -> 7L))
    assert(written(withSinks).contains(""""sinks":[{"sink":"abcdef012345","batch":7}]"""))
    assert(decode[LakeSidecar](written(withSinks), "written").toState.sinks === withSinks.sinks)
    intercept[Unparseable](decode[LakeSidecar]("""{"sinks": [{"sink": """", "half-written"))
  }

  test("torn bodies never decode: every strict prefix of a body is refused") {
    val body = encode(LakeSidecar(lastUpdate = Some("t"), dim = Some(3L),
      live = Seq(LiveDir("shard=1", 1L)), generation = 2L))
    (0 until body.length).foreach { n =>
      intercept[Unparseable](decode[LakeSidecar](body.take(n), s"prefix $n"))
    }
    intercept[Unparseable](decode[LakeSidecar]("null", "null"))
    intercept[Unparseable](decode[LakeSidecar](body + " {}", "trailing"))
  }

  test("newestParseable falls back past a torn newest version and fails loudly when none decodes") {
    val fs = localFs
    val dir = new Path(tmp("walk"))
    def put(v: Int, body: String): (Long, Path) = {
      val p = new Path(dir, s"_meta.$v.json")
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      v.toLong -> p
    }
    val good = put(1, """{"generation": 5, "live": []}""")
    val torn = put(2, """{"generation": 6, "li""")
    val got = newestParseable[LakeSidecar, Long](fs, Seq(good, torn), "walk")(_.generation)
    assert(got === Some(1L -> 5L))
    assert(newestParseable[LakeSidecar, Long](fs, Nil, "walk")(_.generation).isEmpty)
    val e = intercept[IllegalStateException](
      newestParseable[LakeSidecar, Long](fs, Seq(torn), "walk")(_.generation))
    assert(e.getMessage.contains("no parseable sidecar"))
  }

  test("regression: an extra named a]b and its sibling both survive a reopen and a format read") {
    val loc = tmp("evolve") + "/lake"
    val lake = Lake(spark, LakeConfig(loc, dim = 3, numHashes = 2))
    lake.ingest(rows(6, "pre"))
    lake.evolve(StructType(Seq(StructField("a]b", StringType),
      StructField("lang", StringType))))
    lake.ingest(rows(4, "post").withColumn("a]b", lit("x")).withColumn("lang", lit("en")))
    val fresh = Lake(spark, LakeConfig(loc, dim = 3, numHashes = 2))
    val read = fresh.read()
    assert(read.columns.contains("a]b") && read.columns.contains("lang"))
    assert(read.where(col("`a]b`") === "x" && col("lang") === "en").count() === 4L)
    val viaFormat = spark.read.format("graft").load(loc)
    assert(viaFormat.columns.contains("a]b") && viaFormat.columns.contains("lang"))
    assert(viaFormat.where(col("`a]b`").isNull).count() === 6L)
  }

  test("regression: a truncated newest _meta falls back to the previous version, never an empty generation-1 lake") {
    val loc = tmp("torn") + "/lake"
    val lake = Lake(spark, LakeConfig(loc, dim = 3, numHashes = 2))
    lake.ingest(rows(5, "a"))
    lake.seal() // rolls the append target: gen-1 is now manifest-named
    lake.ingest(rows(3, "b"))
    lake.ingest(rows(2, "c"))
    val fs = localFs
    val newest = lake.currentVersion().get
    truncate(fs, new Path(loc, s"_meta.$newest.json"))
    val fresh = Lake(spark, LakeConfig(loc, dim = 3, numHashes = 2))
    // the previous version names gen-1 AND the live gen-2 tree: every row
    assert(fresh.read().count() === 10L)
    assert(spark.read.format("graft").load(loc).count() === 10L)
    assert(!fresh.history().select("version").as[Long].collect().contains(newest))
    // the next commit allocates past the torn version and heals over it
    fresh.ingest(rows(1, "d"))
    assert(fresh.currentVersion().get > newest)
    assert(Lake(spark, LakeConfig(loc, dim = 3, numHashes = 2)).read().count() === 11L)
    // with nothing parseable left, the lake fails loudly
    val only = tmp("torn1") + "/lake"
    val one = Lake(spark, LakeConfig(only, dim = 3, numHashes = 2))
    one.ingest(rows(2, "x"))
    fs.listStatus(new Path(only)).map(_.getPath)
      .filter(p => Lake.metaNameRe.pattern.matcher(p.getName).matches())
      .foreach(truncate(fs, _))
    val e = intercept[IllegalStateException](
      Lake(spark, LakeConfig(only, dim = 3, numHashes = 2)).read())
    assert(e.getMessage.contains("no parseable sidecar"))
  }

  test("regression: a truncated IVF or PQ model meta fails load and loadOrTrain loudly, never retrains") {
    val rnd = new scala.util.Random(5)
    val data = (0L until 120L).map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("id", "vec")
    val fs = localFs
    val ivfDir = tmp("ivf") + "/_ivf"
    Ivf.save(spark, Ivf.train(data, "vec", "id", k = 3, iters = 2), ivfDir)
    val ivfMeta = new Path(ivfDir, "_ivf_meta.json")
    truncate(fs, ivfMeta)
    val torn = readControlFile(fs, ivfMeta)
    intercept[Unparseable](Ivf.load(spark, ivfDir))
    intercept[Unparseable](Ivf.loadOrTrain(spark, ivfDir, data, "vec", "id", k = 3))
    assert(readControlFile(fs, ivfMeta) === torn, "the stored model must not be overwritten")

    val pqDir = tmp("pq") + "/_pq"
    Pq.save(spark, Pq.round6(Pq.train(data, "vec", "id", dim = 8, m = 2, k = 4, iters = 2)), pqDir)
    val pqMeta = new Path(pqDir, "_pq_meta.json")
    truncate(fs, pqMeta)
    val tornPq = readControlFile(fs, pqMeta)
    intercept[Unparseable](Pq.load(spark, pqDir))
    intercept[Unparseable](
      Pq.loadOrTrain(spark, pqDir, data, "vec", "id", dim = 8, m = 2, k = 4))
    assert(readControlFile(fs, pqMeta) === tornPq, "the stored model must not be overwritten")
  }

  test("a graft table load reads the lake state once: 1 root LIST + 1 sidecar GET") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countopenfs.impl", classOf[CountingOpenFs].getName)
    val dir = tmp("loadcount")
    val loc = s"countopenfs://$dir/lake"
    val lake = Lake(spark, LakeConfig(loc, dim = 3, numHashes = 2))
    lake.ingest(rows(8, "a"))
    lake.seal()
    def load(): Unit = {
      CountingListFs.listed.clear()
      CountingOpenFs.opened.clear()
      spark.read.format("graft").load(loc).schema
      ()
    }
    import scala.jdk.CollectionConverters._
    def lists = CountingListFs.listed.asScala.toSeq
    def opens = CountingOpenFs.opened.asScala.toSeq
    // sealed: every live directory is manifest-named, so the root LIST
    // and the newest sidecar GET are the load's only round trips
    load()
    assert(lists.size === 1 && lists.head.endsWith("/lake"), s"LISTs: $lists")
    assert(opens.size === 1 && opens.head.matches(""".*_meta\.\d+\.json"""), s"GETs: $opens")
    // unsealed: the current generation tree is listed as data, the
    // state is still read once
    lake.ingest(rows(4, "b"))
    load()
    assert(lists.count(_.endsWith("/lake")) === 1, s"LISTs: $lists")
    assert(opens.size === 1 && opens.head.matches(""".*_meta\.\d+\.json"""), s"GETs: $opens")
    assert(spark.read.format("graft").load(loc).count() === 12L)
    // a pinned asOf adds the one GET of its version
    val v = lake.currentVersion().get
    CountingListFs.listed.clear()
    CountingOpenFs.opened.clear()
    spark.read.format("graft").option("asOf", v.toString).load(loc).schema
    assert(lists.count(_.endsWith("/lake")) === 1, s"LISTs: $lists")
    assert(opens.count(_.matches(""".*_meta\.\d+\.json""")) === 2, s"GETs: $opens")
  }

  test("every write, index build and zone-pruned read opens the sidecar once") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countopenfs.impl", classOf[CountingOpenFs].getName)
    val loc = s"countopenfs://${tmp("opcount")}/lake"
    val lake = Lake(spark, LakeConfig(loc, dim = 3, numHashes = 2))
    lake.ingest(rows(8, "a"))
    import scala.jdk.CollectionConverters._
    /** `_meta.<v>.json` GETs while `op` runs. */
    def sidecarGets(op: => Any): Int = {
      CountingOpenFs.opened.clear()
      op
      CountingOpenFs.opened.asScala.count(_.matches(""".*_meta\.\d+\.json"""))
    }
    val ingest = sidecarGets(lake.ingest(rows(8, "b")))
    val deleteIds = sidecarGets(assert(lake.deleteIds(Seq("a-0", "b-1")) === 2L))
    val upsert = sidecarGets(assert(lake.upsert(rows(2, "a")) === 1L))
    lake.ingest(rows(8, "c")) // leave more than one file in some shard
    val compactInc = sidecarGets(
      assert(lake.compactIncremental(maxFilesPerShard = 1) > 0L))
    // a small netted delta: a-2 leaves, a-3 comes back with a new document
    val delta = lake.read().where(col("id").isin("a-2", "a-3"))
      .withColumn("change", org.apache.spark.sql.functions.when(
        col("id") === "a-2", lit("delete")).otherwise(lit("insert")))
      .withColumn("document", org.apache.spark.sql.functions.when(
        col("change") === "insert", lit("changed")).otherwise(col("document")))
      .localCheckpoint()
    val applyChanges = sidecarGets(assert(lake.applyChanges(delta) === ((2L, 1L))))
    val buildSkip = sidecarGets(assert(lake.buildSkipIndex() > 0L))
    val upsertSkip = sidecarGets(assert(lake.upsert(rows(2, "b")) === 1L))
    lake.buildZoneMap()
    val timeRange = sidecarGets(assert(lake.readTimeRange(java.time.Instant.EPOCH,
      java.time.Instant.now().plusSeconds(3600)).count() === 23L))
    val counts = Seq("ingest" -> ingest, "deleteIds" -> deleteIds,
      "upsert" -> upsert, "compactIncremental" -> compactInc,
      "applyChanges" -> applyChanges, "buildSkipIndex" -> buildSkip,
      "upsert after buildSkipIndex" -> upsertSkip, "readTimeRange" -> timeRange,
      "sink batch" -> sidecarGets(assert(lake.ingestExactlyOnce(rows(4, "s"), "count-sink", 0L))))
    assert(counts.forall(_._2 == 1), s"sidecar GETs per op: $counts")
  }

  test("a recall calibration and its staleness check each open the sidecar once") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countopenfs.impl", classOf[CountingOpenFs].getName)
    val loc = s"countopenfs://${tmp("calibcount")}/lake"
    val lake = Lake(spark, LakeConfig(loc, dim = 3, numHashes = 2))
    lake.ingest(rows(12, "a"))
    import scala.jdk.CollectionConverters._
    def sidecarGets(op: => Any): Int = {
      CountingOpenFs.opened.clear()
      op
      CountingOpenFs.opened.asScala.count(_.matches(""".*_meta\.\d+\.json"""))
    }
    val calibrate = sidecarGets(assert(lake.calibrateRecall(k = 3, sampleQueries = 4).nonEmpty))
    // a moved token: the staleness check weighs the live volume too
    lake.ingest(rows(1, "b"))
    val stale = sidecarGets(assert(lake.recallCalibStale() === Some(false)))
    assert((calibrate, stale) === ((1, 1)),
      s"sidecar GETs: calibrateRecall $calibrate, recallCalibStale $stale")
  }
}
