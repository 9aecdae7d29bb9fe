package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Mirrors the reference's end-to-end store tests
  * (/root/reference/tests/test_unit.py:46-71,
  * tests/test_properties.py:49-110): empty-store query, add→query,
  * persist→re-open round-trip with exact vector equality, |topK| ≤ k,
  * plus our partitioning/pruning guarantees. */
class LakeSpec extends SparkSpec {
  import spark.implicits._

  private def freshLake(metric: String = "cosine"): Lake = {
    val dir = Files.createTempDirectory("graft_lake_test").toString
    Lake(spark, LakeConfig(s"$dir/lake", dim = 5, numHashes = 4, metric = metric))
  }

  private def vecsDF(vs: Seq[Seq[Double]]) =
    vs.zipWithIndex.map { case (v, i) => (v.map(_.toFloat), s"doc $i") }
      .toDF("vector", "document")

  test("empty store: query returns 0 rows, count 0") {
    val lake = freshLake()
    assert(lake.count() === 0L)
    assert(lake.topK(Seq(1.0, 0, 0, 0, 0), 4).count() === 0L)
  }

  test("add one vector, query returns it with exact values") {
    val lake = freshLake()
    val v = Seq(0.1, 0.2, 0.3, 0.4, 0.5)
    lake.ingest(vecsDF(Seq(v)))
    val rows = lake.topK(v, 4).collect()
    assert(rows.length === 1)
    val got = rows.head.getAs[scala.collection.Seq[Float]]("vector")
    assert(got === v.map(_.toFloat).toSeq)
    assert(rows.head.getAs[Double]("dist") === 0.0)
  }

  test("persist -> re-open from disk -> query still matches (round-trip)") {
    val lake = freshLake()
    val v = Seq(-0.3, 0.9, 0.04, 0.1, -0.5)
    lake.ingest(vecsDF(Seq(v)))
    val reopened = Lake(spark, lake.cfg) // fresh handle, same location
    val rows = reopened.topK(v, 4).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[scala.collection.Seq[Float]]("vector") === v.map(_.toFloat).toSeq)
  }

  test("|topK| <= k and results sorted by dist") {
    val lake = freshLake()
    val rng = new scala.util.Random(42)
    lake.ingest(vecsDF(Seq.fill(50)(Seq.fill(5)(rng.nextGaussian()))))
    val q = Seq.fill(5)(rng.nextGaussian())
    val rows = lake.topKExact(q, 7).collect()
    assert(rows.length <= 7)
    val dists = rows.map(_.getAs[Double]("dist"))
    assert(dists.sameElements(dists.sorted))
  }

  test("ingest defaults: uuid id, metadata coercion, empty document") {
    val lake = freshLake()
    lake.ingest(Seq((Seq(1.0f, 0f, 0f, 0f, 0f), Map.empty[String, String]))
      .toDF("vector", "metadata"))
    val row = lake.read().collect().head
    assert(row.getAs[String]("id").length === 36) // uuid
    // reference coerces empty metadata to {"id": "1"} (index.py:572-575)
    assert(row.getAs[Map[String, String]]("metadata") === Map("id" -> "1"))
    assert(row.getAs[String]("document") === "")
  }

  test("append (second ingest) adds rows, does not rewrite") {
    val lake = freshLake()
    lake.ingest(vecsDF(Seq(Seq(1.0, 0, 0, 0, 0))))
    lake.ingest(vecsDF(Seq(Seq(0.0, 1.0, 0, 0, 0))))
    assert(lake.count() === 2L)
  }

  test("delete removes the store") {
    val lake = freshLake()
    lake.ingest(vecsDF(Seq(Seq(1.0, 0, 0, 0, 0))))
    assert(lake.exists())
    lake.delete()
    assert(!lake.exists())
    assert(lake.count() === 0L) // bootstrap empty frame, like index.py:247
  }

  test("metric=l2 and metric=dot are honored (reference declared-but-ignored)") {
    val l2 = freshLake(metric = "l2")
    l2.ingest(vecsDF(Seq(Seq(1.0, 0, 0, 0, 0), Seq(5.0, 0, 0, 0, 0))))
    val near = l2.topKExact(Seq(1.1, 0, 0, 0, 0), 1).collect().head
    assert(math.abs(near.getAs[Double]("dist") - 0.1) < 1e-6)

    val dl = freshLake(metric = "dot")
    dl.ingest(vecsDF(Seq(Seq(1.0, 0, 0, 0, 0), Seq(5.0, 0, 0, 0, 0))))
    val best = dl.topKExact(Seq(1.0, 0, 0, 0, 0), 1).collect().head
    // nearest by dot = max dot = the larger vector
    assert(best.getAs[scala.collection.Seq[Float]]("vector").head === 5.0f)
  }

  test("single-probe topK prunes partitions (literal shard predicate)") {
    val lake = freshLake()
    val rng = new scala.util.Random(1)
    lake.ingest(vecsDF(Seq.fill(100)(Seq.fill(5)(rng.nextGaussian()))))
    val q = Seq.fill(5)(rng.nextGaussian())
    val plan = lake.topK(q, 3).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") || plan.contains("shard"))
    // all returned rows are from the routed shard
    val routed = lake.lsh.shardOf(q)
    lake.topK(q, 3).collect().foreach(r => assert(r.getAs[Int]("shard") === routed))
  }

  test("user-keyed partitioning (reference Partition subclass analog)") {
    val dir = Files.createTempDirectory("graft_lake_test").toString
    val lake = Lake(spark, LakeConfig(s"$dir/lake", dim = 5,
      partitionKey = Some("tenant")))
    lake.ingest(Seq(
      (Seq(1.0f, 0f, 0f, 0f, 0f), "a"),
      (Seq(0f, 1.0f, 0f, 0f, 0f), "b")).toDF("vector", "tenant"))
    val df = lake.read()
    assert(df.columns.contains("tenant"))
    assert(df.where(col("tenant") === "a").count() === 1L)
  }

  test("in-generation schema drift: reads serve the PINNED sidecar schema; validate()'s footer audit convicts the rogue file") {
    // round-11 contract change: generation trees read with the
    // sidecar-pinned schema (zero footer I/O at plan time — at
    // object-store scale the per-read mergeSchema sweep this replaces
    // was an O(live files) planning job per query, and the SQL format
    // has always served the pinned schema). An out-of-contract foreign
    // file inside a generation therefore no longer fails the READ —
    // its rogue column is projected away, its known columns serve —
    // and the O(files) drift detection moved to validate(), the
    // audit-priced pass.
    val lake = freshLake()
    lake.ingest(vecsDF(Seq(Seq(0.1, 0.2, 0.3, 0.4, 0.5))))
    assert(lake.validate().head().getAs[Long]("drift_cols") === 0L)
    Seq((Seq(0.1f, 0.2f, 0.3f, 0.4f, 0.5f), "doc", 42L))
      .toDF("vector", "document", "rogue_col")
      .write.mode("append").parquet(s"${lake.currentGenDir}/shard=9")
    // a file no sidecar names is not part of the lake: the rogue file
    // gets in the one way an uncommitted file still can
    PreRecordingSidecar(spark, lake)
    val df = lake.read()
    assert(!df.columns.contains("rogue_col"),
      "the pinned read must serve exactly the declared columns")
    assert(df.count() === 2L)
    assert(lake.validate().head().getAs[Long]("drift_cols") === 1L,
      "the footer audit must count the rogue column")
    // ROOT-LEVEL foreign data keeps the loud read-time refusal: it is
    // not manifest-governed, so nothing else ever audits it
    // (EdgeCaseSpec pins that half of the contract)
  }

  test("similaritySearch projects (document, metadata, dist) - LangChain adapter analog") {
    val lake = freshLake()
    val v = Seq(0.5, 0.1, -0.2, 0.3, 0.9)
    lake.addTexts(Seq((v.map(_.toFloat), "hello world doc"))
      .toDF("embedding", "text"))
    val rows = lake.similaritySearch(v, 3).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("document") === "hello world doc")
    assert(rows.head.schema.fieldNames.toSeq === Seq("document", "metadata", "dist"))
  }

  test("hybridSearch fuses keyword and vector legs; exact double match tops the list") {
    val lake = freshLake()
    val target = Seq(1.0, 0.0, 0.0, 0.0, 0.0)
    val off = Seq(0.0, 1.0, 0.0, 0.0, 0.0)
    // doc 'a' matches the query vector AND the keyword (twice — lake
    // ids are uuids, so a keyword-score TIE would break on a random id
    // and flake; tf=2 vs tf=1 makes the BM25 ranking strict); 'b' only
    // the keyword; 'c' only the vector-ish direction; 'd' neither
    lake.addTexts(Seq(
      (target.map(_.toFloat), "vector spark vector"),
      (off.map(_.toFloat), "vector store notes"),
      (Seq(0.9f, 0.1f, 0f, 0f, 0f), "unrelated words here"),
      (Seq(0f, 0f, 1f, 0f, 0f), "nothing relevant at all"))
      .toDF("embedding", "text"))
    val got = lake.hybridSearch(target, Seq("vector"), k = 4)
    val rows = got.collect()
    assert(rows.length === 4)
    assert(got.columns.toSeq === Seq("id", "rrf"))
    // the double-matcher must outrank single-leg matchers: rrf of
    // (rank 1 + rank 1) = 2/61 beats any other combination
    val scores = rows.map(r => r.getDouble(1))
    assert(math.abs(scores.head - 2.0 / 61) < 1e-9, scores.toSeq.toString)
    // an absent keyword contributes ZERO — the fused score must be
    // exactly the vector leg's 1/(60+rank), not vector + an arbitrary
    // id-ordered keyword rank (and never NaN)
    val absent = lake.hybridSearch(target, Seq("zzz_not_present"), k = 2).collect()
    assert(absent.map(_.getDouble(1)).toSeq === Seq(1.0 / 61, 1.0 / 62))
  }

  test("a mismatched routing config is refused: numHashes, seed, and dim are pinned by the sidecar") {
    val dir = java.nio.file.Files.createTempDirectory("graft_routing").toString
    val lake = Lake(spark, LakeConfig(s"$dir/lake", dim = 5, numHashes = 4))
    lake.ingest(Seq((Seq(1f, 0f, 0f, 0f, 0f), "doc")).toDF("vector", "document"))
    // different shard count: a pruned query would scan the wrong directory
    val e1 = intercept[IllegalArgumentException](
      Lake(spark, LakeConfig(s"$dir/lake", dim = 5, numHashes = 5)).count())
    assert(e1.getMessage.contains("numHashes mismatch"))
    // same shard count, different hyperplanes
    val e2 = intercept[IllegalArgumentException](
      Lake(spark, LakeConfig(s"$dir/lake", dim = 5, numHashes = 4, seed = 7L))
        .topK(Seq(1.0, 0, 0, 0, 0), 1).count())
    assert(e2.getMessage.contains("seed"))
    // wrong dimension — and the refusal hits WRITES too, before any row lands
    val e3 = intercept[IllegalArgumentException](
      Lake(spark, LakeConfig(s"$dir/lake", dim = 6, numHashes = 4))
        .ingest(Seq((Seq(1f, 0f, 0f, 0f, 0f, 0f), "d")).toDF("vector", "document")))
    assert(e3.getMessage.contains("dim") || e3.getMessage.contains("-dim"))
    assert(lake.count() === 1L, "refused sessions must not have written")
    // the writer's own config keeps working, metric is NOT pinned (query-
    // time semantics, stored bytes identical)
    assert(Lake(spark, LakeConfig(s"$dir/lake", dim = 5, numHashes = 4,
      metric = "l2")).count() === 1L)
  }

  test("compaction under a mismatched routing config is refused and leaves the sidecar's config alone") {
    val dir = java.nio.file.Files.createTempDirectory("graft_routing_compact").toString
    val loc = s"$dir/lake"
    val lake = Lake(spark, LakeConfig(loc, dim = 5, numHashes = 4))
    (0 until 3).foreach(i => lake.ingest(
      Seq((Seq(1f, i.toFloat, 0f, 0f, 0f), s"doc $i")).toDF("vector", "document")))
    val before = lake.read().select("id").as[String].collect().toSet
    // same shard count, different hyperplanes; then a different dimension
    val foreign = Seq(LakeConfig(loc, dim = 5, numHashes = 4, seed = 7L),
      LakeConfig(loc, dim = 6, numHashes = 4))
    for (c <- foreign; op <- Seq[Lake => Long](_.compact(), _.compactIncremental(maxFilesPerShard = 0))) {
      val e = intercept[IllegalArgumentException](op(Lake(spark, c)))
      assert(e.getMessage.contains("seed") || e.getMessage.contains("-dim"), e.getMessage)
    }
    // nothing committed: the writer's own config still routes, the
    // foreign seed is still refused, and the rows are the same
    assert(lake.topK(Seq(1.0, 0, 0, 0, 0), 1).count() === 1L)
    assert(intercept[IllegalArgumentException](
      Lake(spark, foreign.head).topK(Seq(1.0, 0, 0, 0, 0), 1).count())
      .getMessage.contains("seed"))
    assert(lake.read().select("id").as[String].collect().toSet === before)
  }

  test("evolve and bootstrap under a mismatched routing config are refused and leave the sidecar alone") {
    val dir = java.nio.file.Files.createTempDirectory("graft_routing_restamp").toString
    val loc = s"$dir/lake"
    val lake = Lake(spark, LakeConfig(loc, dim = 5, numHashes = 4))
    (0 until 3).foreach(i => lake.ingest(
      Seq((Seq(1f, i.toFloat, 0f, 0f, 0f), s"doc $i")).toDF("vector", "document")))
    val before = lake.read().select("id").as[String].collect().toSet
    val version = lake.currentVersion()
    // same shard count, different hyperplanes; then a different dimension
    val foreign = Seq(LakeConfig(loc, dim = 5, numHashes = 4, seed = 7L),
      LakeConfig(loc, dim = 6, numHashes = 4))
    for (c <- foreign; op <- Seq[Lake => Unit](
        _.evolve(org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types
          .StructField("tag", org.apache.spark.sql.types.StringType)))),
        _.bootstrap())) {
      val e = intercept[IllegalArgumentException](op(Lake(spark, c)))
      assert(e.getMessage.contains("seed") || e.getMessage.contains("-dim"), e.getMessage)
    }
    // nothing committed: the sidecar still records the writer's config,
    // the foreign seed is still refused, and the rows are the same
    assert(lake.currentVersion() === version)
    assert(!lake.read().columns.contains("tag"))
    assert(lake.topK(Seq(1.0, 0, 0, 0, 0), 1).count() === 1L)
    assert(intercept[IllegalArgumentException](
      Lake(spark, foreign.head).topK(Seq(1.0, 0, 0, 0, 0), 1).count())
      .getMessage.contains("seed"))
    assert(lake.read().select("id").as[String].collect().toSet === before)
  }

  test("topKBatch honors cfg.metric: batch ranking matches topKExact per metric") {
    for (metric <- Seq("cosine", "l2", "dot")) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_batch_$metric").toString
      val lake = Lake(spark, LakeConfig(s"$dir/lake", dim = 5, numHashes = 4,
        metric = metric))
      val rng = new scala.util.Random(21)
      lake.ingest((0 until 24).map { i =>
        (s"r$i", Seq.fill(5)(rng.nextGaussian().toFloat), s"doc $i")
      }.toDF("id", "vector", "document"))
      val q = Seq(0.3, -0.8, 0.1, 0.5, -0.2)
      val viaBatch = lake.topKBatch(Seq((1L, q)), 5)
        .select("id", "dist").collect().map(r => (r.getString(0), r.getDouble(1)))
      val viaExact = lake.topKExact(q, 5)
        .select("id", "dist").collect().map(r => (r.getString(0), r.getDouble(1)))
      assert(viaBatch.toSeq === viaExact.toSeq,
        s"metric=$metric: batch and single-query rankings must agree")
    }
  }

  test("topKBatchRouted equals per-query routed topK; the scan prunes to the routed shard union") {
    val dir = java.nio.file.Files.createTempDirectory("graft_batch_routed").toString
    val lake = Lake(spark, LakeConfig(s"$dir/lake", dim = 5, numHashes = 3))
    val rng = new scala.util.Random(31)
    lake.ingest((0 until 200).map { i =>
      (s"r$i", Seq.fill(5)(rng.nextGaussian().toFloat), s"doc $i")
    }.toDF("id", "vector", "document"))
    val queries = (0 until 4).map(i =>
      (i.toLong, Seq.fill(5)(rng.nextGaussian())))
    val batch = lake.topKBatchRouted(queries, 3).collect()
      .groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[String]("id"), r.getAs[Double]("dist"))).toSeq)
      .toMap
    // per query: the routed batch answer IS the single-probe topK answer
    queries.foreach { case (qid, q) =>
      val single = lake.topK(q, 3).select("id", "dist").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(batch.getOrElse(qid, Nil) === single,
        s"qid $qid: batch-routed and single-probe answers must agree")
    }
    // the scan lists ONLY the union of routed directories
    val shardSet = queries.map(q => lake.lsh.shardOf(q._2)).toSet
    val plan = lake.topKBatchRouted(queries, 3).queryExecution.executedPlan
    val scans = fileScansOf(plan)
    assert(scans.nonEmpty)
    scans.foreach(_.selectedPartitions.toPartitionArray
      .map(_.filePath.toString).foreach { f =>
        assert(shardSet.exists(sh => f.contains(s"shard=$sh/")),
          s"scan lists a file outside the routed union: $f")
      })
    // a user-partitioned lake has no LSH routing to batch over
    val userLake = Lake(spark, LakeConfig(s"$dir/user", dim = 5,
      partitionKey = Some("pk")))
    val e = intercept[IllegalArgumentException](
      userLake.topKBatchRouted(queries, 3))
    assert(e.getMessage.contains("LSH"))
  }

  test("topKBatchRouted nprobe: full ladder equals per-query topKMultiProbe; empty batch short-circuits") {
    val dir = java.nio.file.Files.createTempDirectory("graft_batch_nprobe").toString
    val lake = Lake(spark, LakeConfig(s"$dir/lake", dim = 5, numHashes = 3))
    val rng = new scala.util.Random(47)
    lake.ingest((0 until 200).map { i =>
      (s"r$i", Seq.fill(5)(rng.nextGaussian().toFloat), s"doc $i")
    }.toDF("id", "vector", "document"))
    val queries = (0 until 4).map(i =>
      (i.toLong, Seq.fill(5)(rng.nextGaussian())))
    // nprobe at the top of the ladder = the Hamming≤1 recall contract
    val batch = lake.topKBatchRouted(queries, 3, nprobe = 1 + 3).collect()
      .groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[String]("id"), r.getAs[Double]("dist"))).toSeq)
      .toMap
    queries.foreach { case (qid, q) =>
      val multi = lake.topKMultiProbe(q, 3).select("id", "dist").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      assert(batch.getOrElse(qid, Nil) === multi,
        s"qid $qid: full-ladder batch must equal per-query topKMultiProbe")
    }
    // widening the ladder never loses a single-probe hit and never
    // worsens any returned distance (recall is monotone in nprobe)
    val single = lake.topKBatchRouted(queries, 3, nprobe = 1).collect()
      .groupBy(_.getAs[Long]("qid"))
      .view.mapValues(_.map(_.getAs[Double]("dist")).sorted.toSeq).toMap
    queries.foreach { case (qid, _) =>
      val wide = batch.getOrElse(qid, Nil).map(_._2).sorted
      val narrow = single.getOrElse(qid, Nil)
      assert(wide.size >= narrow.size)
      wide.zip(narrow).foreach { case (w, n) =>
        assert(w <= n, s"qid $qid: nprobe widening worsened a distance")
      }
    }
    // empty batches short-circuit with the result schema, zero rows
    for (empty <- Seq(lake.topKBatch(Nil, 3), lake.topKBatchRouted(Nil, 3))) {
      assert(empty.columns.toSeq === Seq("qid", "rank", "id", "dist"))
      assert(empty.count() === 0L)
    }
    // the dial is validated against the ladder's length
    val e = intercept[IllegalArgumentException](
      lake.topKBatchRouted(queries, 3, nprobe = 5))
    assert(e.getMessage.contains("nprobe"))
    assert(intercept[IllegalArgumentException](
      lake.topKBatchRouted(queries, 3, nprobe = 0)).getMessage.contains("nprobe"))
  }

  test("metadata_json: nested values round-trip opaquely; metadataField reads nested paths") {
    val lake = freshLake()
    val json1 = """{"lang":"en","origin":{"source":"web","score":0.75},"tags":["a","b"]}"""
    val json2 = """{"lang":"fr","origin":{"source":"book","score":0.25}}"""
    lake.ingest(Seq(
      ("m1", Seq(1f, 0f, 0f, 0f, 0f), "d1", json1),
      ("m2", Seq(0f, 1f, 0f, 0f, 0f), "d2", json2))
      .toDF("id", "vector", "document", "metadata_json"))
    // the raw JSON round-trips byte-exactly in the stored string map
    val back = lake.read().where(col("id") === "m1")
      .select(lake.metadataJson).head().getString(0)
    assert(back === json1)
    // nested paths are filterable/projectable
    assert(lake.read().where(lake.metadataField("origin.source") === "web")
      .select("id").head().getString(0) === "m1")
    assert(lake.read().where(lake.metadataField("lang") === "fr")
      .select("id").head().getString(0) === "m2")
    assert(lake.read()
      .select(sum(lake.metadataField("origin.score").cast("double")))
      .head().getDouble(0) === 1.0)
    // full JsonPath form and array indexing work too
    assert(lake.read().where(col("id") === "m1")
      .select(lake.metadataField("$.tags[1]")).head().getString(0) === "b")
    // a plain metadata map coexists: json rides under the reserved key
    lake.ingest(Seq(("m3", Seq(0f, 0f, 1f, 0f, 0f), "d3",
      Map("team" -> "x"), """{"lang":"de"}"""))
      .toDF("id", "vector", "document", "metadata", "metadata_json"))
    val m3 = lake.read().where(col("id") === "m3")
      .select(col("metadata")("team"), lake.metadataField("lang")).head()
    assert(m3.getString(0) === "x" && m3.getString(1) === "de")
    // rows without metadata_json read back null paths, never errors
    lake.ingest(Seq(("m4", Seq(0f, 0f, 0f, 1f, 0f), "d4"))
      .toDF("id", "vector", "document"))
    assert(lake.read().where(col("id") === "m4")
      .select(lake.metadataField("lang")).head().isNullAt(0))
  }

  test("mmrSearch: a zero-norm candidate never hijacks the greedy pick") {
    val lake = freshLake()
    lake.ingest(Seq(
      (Seq(1f, 0f, 0f, 0f, 0f), "on target"),
      (Seq(0f, 0f, 0f, 0f, 0f), "zero norm"),
      (Seq(0.9f, 0.1f, 0f, 0f, 0f), "close by"))
      .toDF("vector", "document"))
    // cos(zero, q) is 0/0: guarded to 0.0 — unguarded NaN ranks above
    // every real score in maxBy and the zero vector is selected first
    // λ=0.7 keeps the second pick strict: "close by" scores
    // 0.7·0.994 − 0.3·0.994 > 0 while the guarded zero-norm row scores 0
    // (at λ=0.5 both collapse to 0 and the pick is an order tie)
    val got = lake.mmrSearch(Seq(1.0, 0, 0, 0, 0), k = 2, fetchK = 3,
      lambdaMult = 0.7).collect().map(_.getAs[String]("document"))
    assert(got.head === "on target")
    assert(!got.contains("zero norm"))
  }

  test("topKFiltered: metadata predicate filters BEFORE the exact top-k (no recall loss)") {
    val lake = freshLake()
    val rows = Seq(
      (Seq(1f, 0f, 0f, 0f, 0f), "near a", Map("tier" -> "gold")),
      (Seq(0.99f, 0.1f, 0f, 0f, 0f), "near b", Map("tier" -> "silver")),
      (Seq(0f, 1f, 0f, 0f, 0f), "far gold", Map("tier" -> "gold")))
      .toDF("vector", "document", "metadata")
    lake.ingest(rows)
    val got = lake.topKFiltered(Seq(1.0, 0, 0, 0, 0), 2,
      col("metadata")("tier") === "gold").collect()
    // exact-over-filtered: the distant gold doc IS found (a pruned-then-
    // post-filtered implementation would return only 1 row)
    assert(got.map(_.getAs[String]("document")).toSet === Set("near a", "far gold"))
  }

  test("mmrSearch trades relevance for diversity; λ=1 degenerates to plain topK order") {
    val lake = freshLake()
    // two near-identical vectors close to the query + one orthogonal
    val rows = Seq(
      (Seq(1f, 0f, 0f, 0f, 0f), "dup one"),
      (Seq(0.999f, 0.001f, 0f, 0f, 0f), "dup two"),
      (Seq(0f, 1f, 0f, 0f, 0f), "diverse"))
      .toDF("vector", "document")
    lake.ingest(rows)
    val q = Seq(1.0, 0, 0, 0, 0)
    // λ=0.3: redundancy outweighs relevance, so the near-duplicate
    // (sim≈redundancy≈1 ⇒ score≈λ−(1−λ)<0) loses to the orthogonal doc
    // (score 0); at λ=0.5 the two are within ulps — not a stable test
    val mmr = lake.mmrSearch(q, k = 2, fetchK = 3, lambdaMult = 0.3)
      .collect().map(_.getAs[String]("document"))
    assert(mmr.head === "dup one", "most relevant first")
    assert(mmr(1) === "diverse", "second pick must avoid the near-duplicate")
    val greedy = lake.mmrSearch(q, k = 2, fetchK = 3, lambdaMult = 1.0)
      .collect().map(_.getAs[String]("document"))
    assert(greedy.toSeq === Seq("dup one", "dup two"),
      "λ=1 ignores redundancy and follows pure relevance")
  }

  test("loadWarm materializes and counts; sizeInBytes is positive") {
    val lake = freshLake()
    lake.ingest(vecsDF(Seq(Seq(1.0, 0, 0, 0, 0), Seq(0.0, 1.0, 0, 0, 0))))
    assert(lake.loadWarm() === 2L)
    assert(lake.sizeInBytes() > 0)
  }

  test("query returns vectors only (reference Index.query contract, index.py:539-541)") {
    val lake = freshLake()
    val v = Seq(0.2, 0.4, 0.6, 0.8, 1.0)
    lake.ingest(vecsDF(Seq(v)))
    val rows = lake.query(v, 3).collect()
    assert(rows.length === 1)
    assert(rows.head.schema.fieldNames.toSeq === Seq("vector"))
    assert(rows.head.getAs[scala.collection.Seq[Float]]("vector") === v.map(_.toFloat).toSeq)
  }

  test("fromTexts constructs and ingests in one call (langchain from_texts analog)") {
    val dir = Files.createTempDirectory("graft_lake_test").toString
    val v = Seq(0.1, 0.9, 0.0, 0.0, 0.2)
    val lake = Lake.fromTexts(spark,
      Seq((v.map(_.toFloat), "from_texts doc")).toDF("embedding", "text"),
      LakeConfig(s"$dir/lake", dim = 5, numHashes = 4))
    assert(lake.count() === 1L)
    assert(lake.similaritySearch(v, 1).collect().head
      .getAs[String]("document") === "from_texts doc")
  }

  test("empty-lake bootstrap types the user partition column from config") {
    val dir = Files.createTempDirectory("graft_lake_test").toString
    val lake = Lake(spark, LakeConfig(s"$dir/lake", dim = 5,
      partitionKey = Some("tenant"),
      partitionKeyType = org.apache.spark.sql.types.StringType))
    // read() before any write: the bootstrap schema must agree with what
    // ingest will later write (tenant is a string, not the old
    // hardcoded IntegerType)
    val boot = lake.read()
    assert(boot.schema("tenant").dataType === org.apache.spark.sql.types.StringType)
    lake.ingest(Seq((Seq(1.0f, 0f, 0f, 0f, 0f), "a")).toDF("vector", "tenant"))
    assert(lake.read().schema("tenant").dataType ===
      org.apache.spark.sql.types.StringType)
  }

  test("multi-probe topK returns at least as many candidates as single-probe") {
    val lake = freshLake()
    val rng = new scala.util.Random(9)
    lake.ingest(vecsDF(Seq.fill(200)(Seq.fill(5)(rng.nextGaussian()))))
    val q = Seq.fill(5)(rng.nextGaussian())
    val single = lake.topK(q, 50).count()
    val multi = lake.topKMultiProbe(q, 50).count()
    assert(multi >= single)
  }

  test("packed sign-bit column: materialized at ingest, compressed retrieval reads it") {
    import graft.functions.{VectorFunctions => V}
    val dir = Files.createTempDirectory("graft_lake_packed").toString
    val lake = Lake(spark, LakeConfig(s"$dir/lake", dim = 5, numHashes = 4,
      packSignBits = true))
    val rng = new scala.util.Random(17)
    lake.ingest(vecsDF(Seq.fill(80)(Seq.fill(5)(rng.nextGaussian()))))

    // stored word == pack of the stored vector, and it survives compaction
    assert(lake.read().where(col("packed") =!= V.signPack(col("vector"))).count() === 0L)
    lake.compact()
    assert(lake.read().where(col("packed") =!= V.signPack(col("vector"))).count() === 0L)

    // with coarseK >= n the two-stage result IS the exact top-k
    val q = Seq.fill(5)(rng.nextGaussian())
    val exact = lake.topKExact(q, 5).select("id").collect().map(_.getString(0)).toSeq
    val comp = lake.topKCompressed(q, 5, coarseK = 200)
      .select("id").collect().map(_.getString(0)).toSeq
    assert(comp === exact)

    // plan shape: the coarse scan reads ONLY (id, packed) — no vector
    // bytes — and full vectors re-enter via a broadcast id semi-join
    // bounded by coarseK rows
    val plan = lake.topKCompressed(q, 5, coarseK = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("struct<id:string,packed:bigint>"),
      s"coarse scan should be vector-free:\n$plan")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"))
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("topKCompressed without a packed column is refused") {
    val lake = freshLake()
    val e = intercept[IllegalArgumentException] {
      lake.topKCompressed(Seq(1.0, 0, 0, 0, 0), 3)
    }
    assert(e.getMessage.contains("packSignBits"))
  }

  test("a routed topK with a new query vector of the same plan shape compiles no new code") {
    val lake = freshLake()
    val rng = new scala.util.Random(5)
    lake.ingest(vecsDF((0 until 200).map(_ => Seq.fill(5)(rng.nextGaussian()))))
    // two stored vectors routed to one shard: same plan, different query
    val Seq(q1, q2) = lake.read().select("shard", "vector")
      .as[(Int, Seq[Float])].collect().groupBy(_._1).values
      .find(_.length >= 2).get.take(2).map(_._2.map(_.toDouble)).toSeq
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    lake.topK(q1, 4).collect()
    val before = compiles.getCount
    val got = lake.topK(q2, 4).collect()
    assert(compiles.getCount - before === 0L,
      "a new query vector must reuse the compiled plan")
    assert(got.head.getAs[Double]("dist") === 0.0)
  }
}
