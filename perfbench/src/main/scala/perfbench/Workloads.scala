package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Lake, LakeConfig, SparkEntry}
import graft.functions.{Lsh, TextFunctions => T, VectorFunctions => V}
import graft.operators.{EmbeddingDedup, TextDedup}

/** Plans a DataFrame and runs it to the driver under the `plan` and
  * `exec` spans; returns the rows. */
private[perfbench] object Run {
  def collect(rec: Recorder, df: => DataFrame): Array[Row] = {
    val d = df
    rec.span("plan")(d.queryExecution.executedPlan)
    rec.span("exec")(d.collect())
  }

  def vec(r: Row, field: String): Seq[Double] =
    r.getAs[scala.collection.Seq[Float]](field).map(_.toDouble).toSeq
}

/** `registry`: the engine's query registry over seeded star-schema and
  * LLM-pipeline tables (generated by `run.py` into `workDir/registry-data`),
  * in sorted order. Setup runs each query once and writes its result for
  * the DuckDB oracle check: that pass is also the warm-up. */
final class RegistryWorkload(spark: SparkSession, rec: Recorder, seed: Long,
    workDir: String) extends Workload {
  private val dataDir = CountingFs.uri(s"$workDir/registry-data")
  private val resultDir = s"$workDir/registry-results"
  val names: Seq[String] = RegistryWorkload.names
  private val rows = scala.collection.mutable.Map.empty[String, Long]

  def passSeconds: Double = 5.0

  /** Runs every entry the way a pass does, and writes its rows for the
    * oracle check: this is also the warm-up. */
  def setup(): Unit = names.foreach { n =>
    rec.op("setup", "query", n) {
      val df = SparkEntry.queries(n)(spark, dataDir)
      val rows = Run.collect(rec, df)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$resultDir/$n")
    }
  }

  def pass(i: Int): Unit = names.foreach { n =>
    rec.op[Array[Row]]("timed", "query", n, units = _.length.toDouble,
      check = r => rows.get(n).filter(_ != r.length)
        .map(want => s"${r.length} rows, first pass returned $want")) {
      Run.collect(rec, rec.span("queries")(SparkEntry.queries(n)(spark, dataDir)))
    }.foreach(r => rows.getOrElseUpdate(n, r.length.toLong))
  }

  def check(): Unit = ()

  def facts: Map[String, Any] = Map("queries" -> names, "result_dir" -> resultDir,
    "timed_rows" -> rows.toMap,
    "oracle" -> SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
}

object RegistryWorkload {
  /** Registry entries whose first run builds a session fixture (a lake,
    * clone, derived table or trained model) before it can answer. */
  val FixtureBacked: Set[String] = Set("q_centroid_sim", "q_change_feed",
    "q_clone_stats", "q_cluster_labels", "q_compact_inc", "q_compact_stats",
    "q_derived_join", "q_derived_rekey", "q_dpp_join", "q_events_rollup",
    "q_expire_stats", "q_export_shards", "q_field_range", "q_knn_batch_routed",
    "q_knn_derived_pq", "q_knn_fresh", "q_knn_resharded", "q_maintain_stats",
    "q_maxsim", "q_meta_json", "q_pq_recall", "q_replica_diff", "q_replica_heal",
    "q_reshard_stats", "q_shard_stats", "q_skip_lookup", "q_sql_dml",
    "q_sql_insert", "q_sql_scan", "q_sync_stats", "q_time_range",
    "q_time_travel", "q_train_order")

  /** Every `Stride`-th entry, in sorted order, of the registry entries
    * that read only the base tables: a fixture build takes seconds, and
    * the whole registry takes minutes to warm up. */
  val Stride = 9

  val names: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
    .filterNot(FixtureBacked).zipWithIndex.collect { case (n, i) if i % Stride == 0 => n }
}

/** `scan`: one sealed, compacted lake of clustered vectors plus a text
  * corpus, both with planted near-duplicates. Each pass runs routed and
  * exact top-k searches, one batch search, and both dedup operators. */
final class ScanWorkload(spark: SparkSession, rec: Recorder, seed: Long,
    workDir: String) extends Workload {
  import ScanWorkload._
  private val localLake = s"$workDir/scan/lake"
  private val lake = Lake(spark, LakeConfig(CountingFs.uri(localLake), dim = Dim,
    numHashes = NumHashes))
  private val queries: Seq[Seq[Double]] =
    Gen.vectors(spark, seed, QueryRows, QueryRows + NumQueries, Dim, Clusters, Spread)
      .orderBy("num").collect().map(Run.vec(_, "vector")).toSeq
  private var vectors: DataFrame = _
  private var docs: DataFrame = _
  private var dedupInput: DataFrame = _
  private val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var exactMatches = 0

  private def corpus(from: Long, until: Long): DataFrame =
    Gen.vectors(spark, seed, from, until, Dim, Clusters, Spread, VecDups)
      .select(concat(lit("v"), col("num")).as("id"), col("vector"),
        concat(lit("doc-"), col("num")).as("document"))

  def setup(): Unit = {
    Main.rmrf(localLake)
    vectors = corpus(0, Rows).cache()
    docs = Gen.documents(spark, seed, Docs, Vocab, ExactDocs, NearDocs).cache()
    dedupInput = corpus(0, DedupRows).cache()
    rec.op("setup", "generate", "generate")(
      vectors.count() + docs.count() + dedupInput.count())
    // one ingest writes one file per shard into one generation: the lake
    // is already compact, so setup seals it without a compaction
    rec.op("setup", "ingest", "ingest", units = (_: Unit) => Rows.toDouble) {
      rec.span("lake")(lake.ingest(vectors))
    }
    rec.op("setup", "seal", "seal")(rec.span("lake")(lake.seal()))
    // warm-up: one untimed pass pays the codegen and first-touch costs
    searches("warmup", 0)
  }

  def passSeconds: Double = 10.0 / 3

  def pass(i: Int): Unit = searches("timed", i + 1)

  /** One pass over the op list; pass `i` takes its own query vectors. */
  private def searches(phase: String, i: Int): Unit = {
    val base = i * KnnPerPass
    val routed = (0 until KnnPerPass).map { j =>
      val q = queries((base + j) % queries.size)
      rec.op[Array[Row]](phase, "knn", "topK", units = _.length.toDouble) {
        Run.collect(rec, rec.span("lake")(lake.topK(q, K)))
      }
    }
    // the first queries of the pass also run exact: routed recall@K
    (0 until ExactPerPass).foreach { j =>
      val q = queries((base + j) % queries.size)
      val exact = rec.op[Array[Row]](phase, "exact_knn", "topKExact",
          units = _.length.toDouble) {
        Run.collect(rec, rec.span("lake")(lake.topKExact(q, K)))
      }
      for (e <- exact; r <- routed(j)) {
        val got = r.map(_.getAs[String]("id")).toSet
        recalls += e.count(x => got(x.getAs[String]("id"))).toDouble / K
      }
    }
    val batch = (0 until BatchQueries).map(j => (j.toLong, queries(j % queries.size)))
    rec.op[Array[Row]](phase, "batch_knn", "topKBatch",
        units = _ => BatchQueries.toDouble,
        check = r => if (r.length == BatchQueries * K) None
          else Some(s"${r.length} batch rows, want ${BatchQueries * K}")) {
      Run.collect(rec, rec.span("lake")(lake.topKBatch(batch, K)))
    }
    rec.op[Array[Row]](phase, "near_dup", "nearDupPairs",
        units = _ => DedupRows.toDouble, check = nearDupCheck) {
      Run.collect(rec, rec.span("operators")(EmbeddingDedup.nearDupPairs(
        dedupInput, "id", "vector", Lsh(Dim, DedupHashes), minSim = DedupMinSim)))
    }
    rec.op[(Long, Array[Row])](phase, "minhash_dedup", "minhash",
        units = _ => Docs.toDouble, check = r => textDupCheck(r._2)) {
      val sigs = rec.span("operators")(
        TextDedup.minhashSignatures(docs, "doc_id", "text").localCheckpoint())
      val cands = rec.span("operators")(TextDedup.bandedCandidates(sigs)).localCheckpoint()
      val verified = Run.collect(rec,
        rec.span("operators")(TextDedup.jaccardVerify(cands, sigs, Jaccard)))
      (cands.count(), verified)
    }.foreach { case (candidates, verified) =>
      rec.gauge("operators.candidates", candidates.toDouble)
      rec.gauge("operators.verified", verified.length.toDouble)
    }
  }

  private def nearDupCheck(pairs: Array[Row]): Option[String] = {
    val found = pairs.map(r => (r.getAs[String]("a_id"), r.getAs[String]("b_id"))).toSet
    val planted = (0L until VecDups).map { n =>
      val (a, b) = (s"v$n", s"v${n + VecDups}")
      if (a < b) (a, b) else (b, a)
    }
    val hit = planted.count(found)
    if (hit >= planted.size * 99 / 100) None
    else Some(s"near-dup recovered $hit of ${planted.size} planted pairs")
  }

  private def textDupCheck(verified: Array[Row]): Option[String] = {
    val found = verified.map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"))).toSet
    val planted = ExactDocs + NearDocs
    val exact = (0L until ExactDocs).count(n => found((n, n + planted)))
    val near = (ExactDocs until planted).count(n => found((n, n + planted)))
    if (exact == ExactDocs && near >= NearDocs * 95 / 100) None
    else Some(s"minhash recovered $exact/$ExactDocs exact, $near/$NearDocs near duplicates")
  }

  /** Exact results against a brute force written in plain Spark SQL over
    * the generated corpus; in a traced run, the kernel rates. */
  def check(): Unit = {
    queries.take(BruteForceQueries).zipWithIndex.foreach { case (q, qi) =>
      val qv = typedLit(q)
      val dist = aggregate(zip_with(col("vector"), qv, (a, b) => a.cast("double") * b),
          lit(0.0), (acc, x) => acc + x) /
        (sqrt(aggregate(col("vector"), lit(0.0), (acc, x) => acc + x.cast("double") * x)) *
          math.sqrt(q.map(x => x * x).sum))
      val brute = vectors.select(col("id"), round(lit(1.0) - dist, 6).as("dist"))
        .orderBy(col("dist"), col("id")).limit(K).collect()
      val exact = lake.topKExact(q, K).collect()
      val want = brute.map(_.getAs[Double]("dist")).toSeq
      val got = exact.map(_.getAs[Double]("dist")).toSeq
      // ids must agree wherever the 6-digit distances do not tie
      val cut = want.last
      val strict = (r: Array[Row]) => r.filter(_.getAs[Double]("dist") < cut)
        .map(_.getAs[String]("id")).toSet
      val ok = got == want && strict(exact) == strict(brute)
      rec.op("check", "exact_check", s"q$qi", check = (b: Boolean) =>
        if (b) None else Some(s"topKExact $got != brute force $want"))(ok)
      if (ok) exactMatches += 1
    }
    if (rec.tracing) kernels()
    gaugeLake(rec, localLake, lake, Dim)
  }

  /** Column functions into the `noop` sink over the corpus: rows/s. */
  def kernels(): Unit = {
    val q = V.vecLit(queries.head)
    val vecs = vectors.select(col("vector"))
    val params = T.minhashParams(16)
    val lsh = Lsh(Dim, 8)
    val cases: Seq[(String, DataFrame, org.apache.spark.sql.Column)] = Seq(
      ("dot", vecs, V.dot(V.asDouble(col("vector")), q)),
      ("cosine", vecs, V.cosineSim(V.asDouble(col("vector")), q)),
      ("l2", vecs, V.l2Dist(V.asDouble(col("vector")), q)),
      ("lsh", vecs, lsh.shardCol(col("vector"))),
      ("shingle", docs, T.shingleHashes(col("text"), 2)),
      ("minhash", docs, T.minhashSigArr(T.shingleHashes(col("text"), 2), params)),
      ("simhash", docs, TextDedup.simhashCol(col("text"))))
    for (_ <- 0 until KernelReps; (name, df, c) <- cases) {
      val n = if (df eq vecs) Rows else Docs
      rec.op("kernel", "kernel", name, units = (_: Unit) => n.toDouble) {
        rec.span("kernels")(df.select(c.as("k")).write.format("noop").mode("overwrite").save())
      }
    }
  }

  def facts: Map[String, Any] = Map("rows" -> Rows, "docs" -> Docs,
    "recall_at_10" -> (if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size),
    "exact_checked" -> exactMatches)
}

object ScanWorkload {
  val Dim = 64
  val NumHashes = 6
  val Rows = 30000L
  val Clusters = 64
  val Spread = 0.05
  val VecDups = 200L
  val DedupRows = 10000L
  val DedupHashes = 14
  val DedupMinSim = 0.99
  val Docs = 10000L
  val Vocab = 2000
  val ExactDocs = 100L
  val NearDocs = 200L
  val Jaccard = 0.8
  val K = 10
  val NumQueries = 64L
  /** Query vectors are rows of the same mixture far past the corpus. */
  val QueryRows = 1L << 40
  val KnnPerPass = 10
  val ExactPerPass = 2
  val BatchQueries = 24
  val BruteForceQueries = 2
  val KernelReps = 3

  /** Space and file gauges of a lake, read off the local disk. */
  def gaugeLake(rec: Recorder, localLake: String, lake: Lake, dim: Int): Unit = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new File(localLake))
    val sidecars = files.filter(_.getName.matches("_meta\\.\\d+\\.json"))
    val newest = sidecars.sortBy(_.getName.stripPrefix("_meta.").stripSuffix(".json").toLong)
      .lastOption
    rec.gauge("lake.sidecar_bytes", newest.map(_.length.toDouble).getOrElse(0.0))
    rec.gauge("lake.live_files", lake.read().inputFiles.length.toDouble)
    val live = lake.read().select(
      sum(lit(4 * dim) + length(col("id")) + coalesce(length(col("document")), lit(0))))
      .head().getLong(0)
    rec.gauge("lake.space_amp", files.map(_.length).sum.toDouble / live)
  }
}

/** `churn`: a 64-shard lake taking many small commits. One pass is one
  * round: it ingests a batch, runs the reads (state, routed top-k, a
  * checked count) and one maintenance step, in turn: delete a few ids;
  * upsert a few ids; seal, read the change feed since the last seal and
  * compact the shards holding more than `CompactAbove` files. Reads see
  * the files the writes leave behind. */
final class ChurnWorkload(spark: SparkSession, rec: Recorder, seed: Long,
    workDir: String) extends Workload {
  import ChurnWorkload._
  private val localLake = s"$workDir/churn/lake"
  private val lake = Lake(spark, LakeConfig(CountingFs.uri(localLake), dim = Dim,
    numHashes = NumHashes))
  private val queries: Seq[Seq[Double]] =
    Gen.vectors(spark, seed, ScanWorkload.QueryRows, ScanWorkload.QueryRows + 64, Dim,
      Clusters, ScanWorkload.Spread).orderBy("num").collect().map(Run.vec(_, "vector")).toSeq
  private var live = 0L
  private var lastSeal: Option[Long] = None
  private var counts = 0

  /** Rows `prefix<r>-<k>` for k in [from, until); `draw` picks fresh
    * vectors for the same ids. */
  private def batch(r: Int, prefix: String, from: Long, until: Long,
      draw: Int = 0): DataFrame = {
    val base = (4L * r + draw) * RoundRows
    Gen.vectors(spark, seed, base + from, base + until, Dim, Clusters, ScanWorkload.Spread)
      .select(concat(lit(s"$prefix$r-"), col("num") - base).as("id"), col("vector"),
        concat(lit("doc-"), col("num")).as("document"))
  }

  /** Ingests the initial rows in `InitialBatches` commits, so reads start
    * on a lake of several files per shard. */
  def setup(): Unit = {
    Main.rmrf(localLake)
    val per = InitialRows / InitialBatches
    (0 until InitialBatches).foreach { b =>
      rec.op("setup", "ingest", "ingest", units = (_: Unit) => per.toDouble) {
        rec.span("lake")(lake.ingest(batch(0, "init", b * per, (b + 1) * per)))
      }
    }
    live = InitialRows
    rec.op("setup", "seal", "seal")(rec.span("lake") { lastSeal = Some(lake.seal()) })
  }

  /** Three rounds, one of each maintenance step, per 10 s. There is no
    * warm-up round: every run pays the same first-use costs. */
  def passSeconds: Double = 10.0 / 3

  def pass(i: Int): Unit = {
    val r = i + 1
    rec.op("timed", "ingest", "ingest", units = (_: Unit) => RowsPerRound.toDouble) {
      rec.span("lake")(lake.ingest(batch(r, "c", 0, RowsPerRound)))
    }
    live += RowsPerRound
    rec.op("timed", "state_read", "currentVersion")(rec.span("lake")(lake.currentVersion()))
    (0 until KnnPerRound).foreach { j =>
      val q = queries((r * KnnPerRound + j) % queries.size)
      rec.op[Array[Row]]("timed", "knn", "topK", units = _.length.toDouble) {
        Run.collect(rec, rec.span("lake")(lake.topK(q, 10)))
      }
    }
    val want = live
    rec.op[Long]("timed", "count", "count",
        check = n => if (n == want) None else Some(s"count $n, want $want")) {
      val df = rec.span("lake")(lake.read())
      rec.span("plan")(df.queryExecution.executedPlan)
      rec.span("exec")(df.count())
    }
    counts += 1
    i % 3 match {
      case 0 => delete(r)
      case 1 => upsert(r)
      case _ => sealAndCompact()
    }
  }

  /** Deletes the first `MutateRows` ids of round `r`'s batch. */
  private def delete(r: Int): Unit = {
    val ids = (0L until MutateRows).map(k => s"c$r-$k")
    rec.op[Long]("timed", "delete", "deleteIds", units = _.toDouble,
        check = n => if (n == MutateRows) None else Some(s"deleted $n, want $MutateRows")) {
      rec.span("lake")(lake.deleteIds(ids))
    }
    live -= MutateRows
  }

  /** Replaces `MutateRows` ids of round `r`'s batch and adds as many
    * fresh ones. */
  private def upsert(r: Int): Unit = {
    val rows = batch(r, "c", MutateRows, 2 * MutateRows, draw = 1)
      .union(batch(r, "u", 0, MutateRows, draw = 2))
    rec.op[Long]("timed", "upsert", "upsert", units = _.toDouble,
        check = n => if (n == MutateRows) None else Some(s"replaced $n, want $MutateRows")) {
      rec.span("lake")(lake.upsert(rows))
    }
    live += MutateRows
  }

  private def sealAndCompact(): Unit = {
    val prev = lastSeal
    rec.op("timed", "seal", "seal")(rec.span("lake") { lastSeal = Some(lake.seal()) })
    for (from <- prev; to <- lastSeal)
      rec.op[Array[Row]]("timed", "changes", "changesBetween", units = _.length.toDouble) {
        Run.collect(rec, rec.span("lake")(lake.changesBetween(from, to)))
      }
    rec.op("timed", "compact", "compactIncremental")(
      rec.span("lake")(lake.compactIncremental(maxFilesPerShard = CompactAbove)))
  }

  def check(): Unit = ScanWorkload.gaugeLake(rec, localLake, lake, Dim)

  def facts: Map[String, Any] = Map("rounds" -> counts, "live_rows" -> live)
}

object ChurnWorkload {
  val Dim = 64
  val NumHashes = 6
  val Clusters = 64
  val InitialRows = 2000L
  val InitialBatches = 2
  val RowsPerRound = 1000L
  val KnnPerRound = 5
  val MutateRows = 8L
  /** Shards holding more files than this are rewritten by the third
    * round's compaction. Every ingest adds a file to nearly every shard,
    * and a delete or upsert rewrites only the shards its ids hash to, so
    * by then most shards hold five files. */
  val CompactAbove = 4
  /** Row numbers of round r's draws start at r * RoundRows. */
  val RoundRows = 1L << 20
}
