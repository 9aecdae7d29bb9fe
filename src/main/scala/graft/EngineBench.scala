package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Like-for-like throughput bench against tools/ref_bench.py: ingest N
  * seeded gaussian vectors through the Lake write path, then run batch
  * and single kNN. Prints one JSON line. Args: [n] [dim] [nQueries]. */
object EngineBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 60000
    val dim = if (args.length > 1) args(1).toInt else 64
    val nQ = if (args.length > 2) args(2).toInt else 100
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // distributed deterministic data: seed per row id. MATERIALIZED
    // before the clock starts — tools/ref_bench.py also pre-loads its
    // vectors into memory before timing `add`, so the timed section
    // must be routing + write only, not synthetic data generation.
    val base = spark.range(n).select(
        col("id"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => sin(col("id") * 7919 + i * 104729) * 0.15).as("vector"))
      .select(col("id"),
        col("vector").cast("array<float>").as("vector"),
        concat(lit("doc-"), col("id")).as("document"))
      .transform(graft.operators.Materialize.cut(_))
    val vecs = base.select("vector", "document")

    val lake = Lake(spark, LakeConfig(
      s"${sys.props("java.io.tmpdir")}/graft_engine_bench", dim = dim))
    lake.delete()

    val t0 = System.nanoTime()
    lake.ingest(vecs)
    val tIngest = (System.nanoTime() - t0) / 1e9

    val rng = new java.util.Random(7)
    val queries = (0 until nQ).map(i =>
      (i.toLong, Seq.fill(dim)(rng.nextGaussian() * 0.15)))

    val t1 = System.nanoTime()
    val batchRows = lake.topKBatch(queries, 10).count()
    val tBatch = (System.nanoTime() - t1) / 1e9

    // the routed batch: same query set, per-query single-probe recall
    // (not the same answers as the exhaustive batch — the same trade
    // topK makes vs topKExact), scan pruned to the routed-shard union,
    // equi-join instead of cross join
    val tR = System.nanoTime()
    val batchRoutedRows = lake.topKBatchRouted(queries, 10).count()
    val tBatchRouted = (System.nanoTime() - tR) / 1e9

    // the single-query probe uses a vector FROM the data, so the
    // routed shard is guaranteed occupied — a random gaussian query
    // can route into a shard the deterministic sin-pattern fixture
    // never populates, and an empty-directory scan times nothing
    val inDataQ = base.select("vector").head()
      .getAs[scala.collection.Seq[Float]]("vector").map(_.toDouble).toSeq
    val t2 = System.nanoTime()
    val single = lake.topK(inDataQ, 10).count()
    val tSingle = (System.nanoTime() - t2) / 1e9

    // compressed-retrieval modes on one lake storing BOTH auxiliary
    // columns (8-byte sign word + 8-byte PQ code word): exact full-
    // precision scan vs Hamming two-stage vs learned-codebook ADC
    // two-stage, same query, same storage
    // largest m <= 8 dividing dim, so an arbitrary CLI dim still runs
    val pqM = (8 to 1 by -1).find(dim % _ == 0).get
    val pqModel = operators.Pq.round6(operators.Pq.train(
      base.where(col("id") < 2000), "vector", "id", dim = dim,
      m = pqM, k = 16, iters = 2))
    val cLake = Lake(spark, LakeConfig(
      s"${sys.props("java.io.tmpdir")}/graft_engine_bench_c", dim = dim,
      packSignBits = true, pqCodebooks = Some(pqModel)))
    cLake.delete()
    cLake.ingest(vecs)
    val q0 = queries.head._2
    def time(f: => Long): (Double, Long) = {
      val t = System.nanoTime(); val r = f; ((System.nanoTime() - t) / 1e9, r)
    }
    val (tExact, _) = time(cLake.topKExact(q0, 10).count())
    val (tHam, _) = time(cLake.topKCompressed(q0, 10, coarseK = 100).count())
    val (tPq, _) = time(cLake.topKPq(q0, 10, coarseK = 100).count())

    // concurrent-append scaling (the shared append gate): the same rows
    // as TWO half-batches, loaded back-to-back vs in parallel. The old
    // exclusive lock would REFUSE the second parallel loader outright;
    // the shared gate admits both, and on a cluster with headroom the
    // pair overlaps scheduling/IO gaps (local[32] with two ~16-task
    // write jobs has exactly that headroom)
    val halfA = base.where(col("id") % 2 === 0).select("vector", "document")
    val halfB = base.where(col("id") % 2 === 1).select("vector", "document")
    def freshIngestLake(tag: String): Lake = {
      val l = Lake(spark, LakeConfig(
        s"${sys.props("java.io.tmpdir")}/graft_engine_bench$tag", dim = dim))
      l.delete(); l
    }
    val seqLake = freshIngestLake("_seq")
    val tSeq0 = System.nanoTime()
    seqLake.ingest(halfA); seqLake.ingest(halfB)
    val tSeq = (System.nanoTime() - tSeq0) / 1e9
    val parLake = freshIngestLake("_par")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val tPar0 = System.nanoTime()
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(Seq(halfA, halfB).map(h =>
        scala.concurrent.Future(parLake.ingest(h)))),
      scala.concurrent.duration.Duration(600, "s"))
    val tPar = (System.nanoTime() - tPar0) / 1e9
    pool.shutdown()
    val parRows = parLake.count()
    require(parRows == n.toLong && seqLake.count() == n.toLong,
      s"concurrent loaders must land every row: $parRows of $n")
    seqLake.delete(); parLake.delete()

    // sketch-gated corpus admission: snapshot cost scales with the
    // corpus (one scan), but the PER-BATCH admit cost must stay flat as
    // the corpus grows — that flatness is the gate's 100 TB claim, the
    // admission analog of the flat pruned-query probe above
    val corpusDocs = base.select(col("document").as("text"))
    val tG0 = System.nanoTime()
    // bits=20: at 16 bits a 60k-doc corpus occupies most of the 2^16
    // bucket space and near-rejects novel docs by saturation — a width
    // the operator dials up with corpus size, so the probe does too
    val gate = graft.streaming.DedupStreaming.corpusGate(corpusDocs,
      bits = 20, estItems = math.max(n.toLong, 1000L))
    val tGate = (System.nanoTime() - tG0) / 1e9
    // fixed 1000-doc batch: 500 corpus dups + 500 novel ids
    val batchDocs = spark.range(1000).select(
      (col("id") + (n - 500)).as("doc_id"),
      concat(lit("doc-"), col("id") + (n - 500)).as("text"))
    val (tAdmit, admitRows) = time(gate.admitBatch(batchDocs).count())

    println(s"""{"impl":"graft","rows":$n,"dim":$dim,"ingest_sec":${f"$tIngest%.3f"},""" +
      s""""batch_q":$nQ,"batch_sec":${f"$tBatch%.3f"},"batch_qps":${f"${nQ / tBatch}%.1f"},""" +
      s""""batch_rows":$batchRows,"batch_routed_sec":${f"$tBatchRouted%.3f"},""" +
      s""""batch_routed_qps":${f"${nQ / tBatchRouted}%.1f"},"batch_routed_rows":$batchRoutedRows,""" +
      s""""single_pruned_sec":${f"$tSingle%.3f"},"single_rows":$single,""" +
      s""""exact_scan_sec":${f"$tExact%.3f"},"hamming2stage_sec":${f"$tHam%.3f"},""" +
      s""""pq2stage_sec":${f"$tPq%.3f"},"admit_gate_build_sec":${f"$tGate%.3f"},""" +
      s""""admit_batch_sec":${f"$tAdmit%.3f"},"admit_rows":$admitRows,""" +
      s""""ingest2_seq_sec":${f"$tSeq%.3f"},"ingest2_par_sec":${f"$tPar%.3f"},""" +
      s""""ingest_par_speedup":${f"${tSeq / tPar}%.2f"}}""")
    spark.stop()
  }
}

/** Cost-vs-corpus-size curves for the 100 TB claims: the same probe set
  * at n and 10n (one JSON line per size), so the scaling behavior is
  * MEASURED slope, not just plan shape. What each probe's slope should
  * be, and why (BENCHNOTES.md carries the observed numbers):
  *
  *  - `topk_pruned_sec`: one shard's scan — grows with n/shards, and at
  *    fixed shard count that is 10× rows per shard; the point is it
  *    never scans the other 255 directories (a flat-ish curve dominated
  *    by per-job overhead at these sizes).
  *  - `topk_exact_sec` / `topk_pq_sec`: full-scan floor vs the 8-byte
  *    coarse scan + bounded rerank — both linear in n, PQ with a far
  *    smaller constant (bytes read per row).
  *  - `topk_pq_routed_sec`: the composed serving path
  *    ([[Lake.topKPqRouted]]) — directory pruning cuts the coarse scan
  *    to one shard, so the slope is n/shards on the 8-byte column, the
  *    smallest constant of any mode here.
  *  - `skip_build_sec` / `lookup_skip_sec` / `lookup_full_sec`: the
  *    id point-read with a fresh Bloom skip index (scans only the
  *    sketch-hit shards — near-flat in n) vs the full id-probe floor
  *    (linear: every live file's id column); the build itself is two
  *    column-pruned scans.
  *  - `delete_where_sec`: targeted maintenance = one pruned discovery
  *    filter-scan (linear, small constant — no shuffle, two pruned
  *    columns) + a rewrite of ONLY the affected directories (flat in n
  *    for a fixed victim set, ~10× at 10× only because each affected
  *    directory is itself 10× bigger).
  *  - `changes_files`: the netted change feed after that one-shard
  *    delete opens only the affected shard's old+new files — flat in n
  *    (the downstream-sync contract: cost tracks what changed, never
  *    lake size).
  *  - `compact_inc_sec`: [[Lake.compactIncremental]] after the delete —
  *    nothing else is fragmented, so its cost tracks the affected-shard
  *    bytes, NOT the lake size (the incremental-compact contract).
  *
  * Args: [dim] [sizes...] (defaults 64, 20000 200000). */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val dim = if (args.length > 0) args(0).toInt else 64
    val sizes = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
                else Seq(20000, 200000)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time(f: => Long): (Double, Long) = {
      val t = System.nanoTime(); val r = f; ((System.nanoTime() - t) / 1e9, r)
    }
    sizes.foreach { n =>
      // two selects: a single one would resolve the lambda's col("id")
      // against the LATERAL alias (the "rN" string), not range's long
      val base = spark.range(n).select(
          col("id").as("num"),
          transform(sequence(lit(0), lit(dim - 1)),
            i => sin(col("id") * 7919 + i * 104729) * 0.15)
            .cast("array<float>").as("vector"))
        .select(
          concat(lit("r"), col("num")).as("id"), col("vector"),
          concat(lit("doc-"), col("num")).as("document"))
        .transform(graft.operators.Materialize.cut(_))
      val pqM = (8 to 1 by -1).find(dim % _ == 0).get
      val pqModel = operators.Pq.round6(operators.Pq.train(
        base.limit(2000).withColumn("vid", monotonically_increasing_id()),
        "vector", "vid", dim = dim, m = pqM, k = 16, iters = 2))
      val lake = Lake(spark, LakeConfig(
        s"${sys.props("java.io.tmpdir")}/graft_scale_bench_$n", dim = dim,
        pqCodebooks = Some(pqModel)))
      lake.delete()
      val (tIngest, _) = time { lake.ingest(base); n.toLong }

      val q = base.select("vector").head()
        .getAs[scala.collection.Seq[Float]]("vector").map(_.toDouble).toSeq
      val (tPruned, _) = time(lake.topK(q, 10).count())
      val (tExact, _) = time(lake.topKExact(q, 10).count())
      val (tPq, _) = time(lake.topKPq(q, 10, coarseK = 100).count())
      // the composed serving path: directory pruning × 8-byte ADC ×
      // bounded rerank — its slope is n/shards on the coarse bytes, the
      // smallest of any mode here (PqSpec pins the file-confinement
      // claim in the plan; this records the measured cost)
      val (tPqRouted, _) = time(lake.topKPqRouted(q, 10, coarseK = 100).count())

      // skip-index slope: a 5-id point-read with a fresh index scans
      // only the sketch-hit shards (near-flat in n — per-shard rows grow
      // but 255 of 256 directories are never read), vs the full id-probe
      // floor which is linear in n by construction
      val (tSkipBuild, _) = time(lake.buildSkipIndex(fpp = 0.001))
      val ids = Seq("r3", s"r${n / 2}", s"r${n - 1}", "r77", s"r${n / 3}")
      // seconds mislead at this scale (fixed per-job cost dominates a
      // tmpfs scan); the 100 TB quantity is files RESOLVED BY the scan
      // after pruning — the full probe's grows with the lake, the
      // indexed probe's stays at the sketch-hit shards
      def filesScanned(df: org.apache.spark.sql.DataFrame): Long = {
        df.count()
        df.queryExecution.executedPlan
          .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
          .map(_.selectedPartitions.toPartitionArray.length.toLong).sum
      }
      val (tLookupSkip, filesSkip) =
        time(filesScanned(lake.lookup(ids))) // includes the sketch probe
      val (tLookupFull, filesFull) =
        time(filesScanned(lake.read().where(col("id").isin(ids: _*))))

      // fixed 100-row victim set in ONE shard regardless of n: targeted
      // maintenance cost must track the AFFECTED directory, not the
      // corpus (discovery is still one pruned filter-scan of the lake)
      val routed = lake.lsh.shardOf(q)
      val victims = lake.read().where(col("shard") === routed)
        .select("id").limit(100).collect().map(_.getString(0)).toSeq
      val syncV = lake.seal()
      val (tDel, deleted) = time(lake.deleteWhere(col("id").isin(victims: _*)))
      // change-feed slope: the netted delta after a one-shard delete must
      // OPEN only that shard's old+new files — a downstream sync costs
      // O(changed files), never a lake re-scan (the files count is the
      // honest quantity; seconds are job-overhead-dominated here).
      // inputFiles is exact here — the delta plan is built from explicit
      // changed-file lists (filesScanned's plan walk would miss scans
      // behind the netting joins' AQE wrapper)
      val (tChanges, filesChanged) = time {
        val ch = lake.changesSince(syncV)
        ch.count()
        ch.inputFiles.distinct.length.toLong
      }
      // fragment exactly one shard (6 tiny same-vector appends), then
      // incremental compact must rewrite only it
      import spark.implicits._
      (0 until 6).foreach { j =>
        lake.ingest(Seq((q.map(_.toFloat), s"extra-$j"))
          .toDF("vector", "document"))
      }
      val (tCompactInc, rewritten) =
        time(lake.compactIncremental(maxFilesPerShard = 4))
      println(s"""{"probe":"scale","rows":$n,"dim":$dim,""" +
        s""""ingest_sec":${f"$tIngest%.3f"},"topk_pruned_sec":${f"$tPruned%.3f"},""" +
        s""""topk_exact_sec":${f"$tExact%.3f"},"topk_pq_sec":${f"$tPq%.3f"},""" +
        s""""topk_pq_routed_sec":${f"$tPqRouted%.3f"},""" +
        s""""skip_build_sec":${f"$tSkipBuild%.3f"},""" +
        s""""lookup_skip_sec":${f"$tLookupSkip%.3f"},"lookup_skip_files":$filesSkip,""" +
        s""""lookup_full_sec":${f"$tLookupFull%.3f"},"lookup_full_files":$filesFull,""" +
        s""""delete_where_sec":${f"$tDel%.3f"},"deleted":$deleted,""" +
        s""""changes_sec":${f"$tChanges%.3f"},"changes_files":$filesChanged,""" +
        s""""compact_inc_sec":${f"$tCompactInc%.3f"},"shards_rewritten":$rewritten}""")
      lake.delete()
    }
    spark.stop()
  }
}

/** The reshard payoff probe: single-probe topK reads ONE shard
  * directory, so its cost tracks rows-per-shard — adding a hyperplane
  * halves every directory and should halve the probe's scanned rows
  * (and, past fixed job overhead, its time). Per width this prints one
  * JSON line with the reshard's own cost, the median probe seconds
  * over a fixed seeded query set, and the EXACT average rows the
  * routed directories hold (the scale-honest quantity: at 100 TB the
  * scan bytes dominate and the ~2×-per-bit drop is the whole point;
  * at bench scale fixed per-job cost floors the seconds).
  * Args: [n] [dim] [startHashes] [addedBits] (defaults 200000 64 6 2). */
object ReshardBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 200000
    val dim = if (args.length > 1) args(1).toInt else 64
    val start = if (args.length > 2) args(2).toInt else 6
    val addBits = if (args.length > 3) args(3).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // per-DIMENSION frequencies (id * (a·i + b)), not the additive
    // sin(id·a + i·b) other probes use: the additive form is rank-2
    // (sin(x+y) expands over two basis vectors), which collapses the
    // sign space to ~2·numHashes regions and makes hyperplane splits
    // meaningless — this probe exists to measure splitting, so its
    // vectors must actually span the space
    val base = spark.range(n).select(
        col("id").as("num"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => sin(col("id") * (i * 104729 + 7919)) * 0.15)
          .cast("array<float>").as("vector"))
      .select(
        concat(lit("r"), col("num")).as("id"), col("vector"),
        concat(lit("doc-"), col("num")).as("document"))
      .transform(graft.operators.Materialize.cut(_))
    var lake = Lake(spark, LakeConfig(
      s"${sys.props("java.io.tmpdir")}/graft_reshard_bench", dim = dim,
      numHashes = start))
    lake.delete()
    lake.ingest(base)

    val rng = new java.util.Random(11)
    val queries = (0 until 16).map(_ => Seq.fill(dim)(rng.nextGaussian() * 0.15))
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def probeLine(reshardSec: Double): Unit = {
      val counts = lake.read().groupBy("shard").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val rowsAvg = queries.map(q =>
        counts.getOrElse(lake.lsh.shardOf(q), 0L).toDouble).sum / queries.size
      lake.topK(queries.head, 10).count() // warm the shape
      val secs = queries.map { q =>
        val t = System.nanoTime()
        lake.topK(q, 10).count()
        (System.nanoTime() - t) / 1e9
      }
      println(s"""{"probe":"reshard","rows":$n,"dim":$dim,""" +
        s""""num_shards":${lake.lsh.numShards},""" +
        s""""reshard_sec":${f"$reshardSec%.3f"},""" +
        s""""probe_med_sec":${f"${med(secs)}%.3f"},""" +
        s""""probe_rows_avg":${f"$rowsAvg%.1f"}}""")
    }
    probeLine(0.0)
    (1 to addBits).foreach { b =>
      val t = System.nanoTime()
      lake = lake.reshard(start + b)
      val dt = (System.nanoTime() - t) / 1e9
      // converge the layout the way a post-reshard maintain() tick
      // would: fold the per-step generations into one (each generation
      // is a separate union branch whose mergeSchema planning pays
      // O(its files) — the steady serve state is one generation) and
      // retire the dead trees
      lake.compact()
      lake.vacuum()
      probeLine(dt)
    }
    lake.delete()
    spark.stop()
  }
}

/** Storage-partitioned-join slope probe: [[Lake.diffStats]]' claim is
  * that the replica audit is shuffle-free end to end — both per-shard
  * aggregates ride keyed file partitions and the final join is
  * co-located — so its cost tracks the SCAN, not the wire. Measures
  * the audit with SPJ on vs forced-stock (shuffled aggregates + join)
  * at 1× and 10× data, reporting wall time and the executed plan's
  * exchange count for each. At local[32] toy scale the wire is cheap,
  * so the headline is the exchange count (0 vs >0) and the slope;
  * on a 1000-executor cluster every exchange is a corpus-sized
  * re-hash across the network. Args: [rows] [dim]. */
object SpjBench {
  def main(args: Array[String]): Unit = {
    val baseRows = if (args.length > 0) args(0).toLong else 100000L
    val dim = if (args.length > 1) args(1).toInt else 16
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time[T](f: => T): (Double, T) = {
      val t = System.nanoTime(); val r = f; ((System.nanoTime() - t) / 1e9, r)
    }
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int =
      p.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          shuffles(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          shuffles(q.plan)
      }.sum
    def rowsDf(n: Long) = spark.range(n)
      .select(col("id").as("num"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => sin(col("id") * 7919 + i * 104729) * 0.15)
          .cast("array<float>").as("vector"))
      .select(col("vector"), concat(lit("doc-"), col("num")).as("document"))
    def run(scale: Int, tag: String, report: Boolean): Unit = {
      val root = s"${sys.props("java.io.tmpdir")}/graft_spj_bench_$tag"
      val src = Lake(spark, LakeConfig(s"$root/src", dim = dim, numHashes = 5))
      src.delete()
      src.ingest(rowsDf(baseRows * scale))
      Lake(spark, LakeConfig(s"$root/rep", dim = dim, numHashes = 5)).delete()
      val rep = src.cloneTo(s"$root/rep")
      rep.deleteWhere(col("document").endsWith("7"))
      def audit(spj: Boolean): (Double, Int, Long) = {
        val df = src.diffStats(rep, spj = spj)
        val (t, rows) = time(df.collect())
        (t, shuffles(df.queryExecution.executedPlan),
          rows.count(!_.getBoolean(3)))
      }
      val (tSpj, exSpj, divergedSpj) = audit(spj = true)
      val (tStock, exStock, divergedStock) = audit(spj = false)
      require(divergedSpj == divergedStock,
        s"plan modes disagree: $divergedSpj vs $divergedStock")
      if (report)
        println(s"""{"probe":"spj","rows":${baseRows * scale},""" +
          s""""spj_sec":${f"$tSpj%.2f"},"spj_exchanges":$exSpj,""" +
          s""""stock_sec":${f"$tStock%.2f"},"stock_exchanges":$exStock,""" +
          s""""diverged_shards":$divergedSpj}""")
      src.delete(); rep.delete()
    }
    run(1, "warm", report = false) // codegen/classload warm-up
    run(1, "x1", report = true)
    run(10, "x10", report = true)
    spark.stop()
  }
}

/** Anti-entropy slope probe: [[Lake.repairFrom]]'s claim is that a
  * replica diverged in k of N shards repairs at ~k/N of a re-clone's
  * cost — the audit is the zero-exchange SPJ (SpjBench measures that
  * half), and the copy reads and rewrites ONLY convicted directories.
  * Diverges a FIXED 2 of 32 shards out of band on the replica (partial
  * deletes in the fullest shard, one count-neutral tamper in the next)
  * and measures repairFrom against the O(data) alternative — a full
  * re-clone — at 1× and 10× data, plus the converged no-op pass (audit
  * only, rewrites nothing). At 100 TB the re-clone is days of copy;
  * the repair is two directory rewrites behind a metadata-light audit.
  * Args: [rows] [dim]. */
object RepairBench {
  def main(args: Array[String]): Unit = {
    val baseRows = if (args.length > 0) args(0).toLong else 100000L
    val dim = if (args.length > 1) args(1).toInt else 16
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time[T](f: => T): (Double, T) = {
      val t = System.nanoTime(); val r = f; ((System.nanoTime() - t) / 1e9, r)
    }
    def rowsDf(n: Long) = spark.range(n)
      .select(col("id").as("num"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => sin(col("id") * 7919 + i * 104729) * 0.15)
          .cast("array<float>").as("vector"))
      .select(col("vector"), concat(lit("doc-"), col("num")).as("document"))
    def run(scale: Int, tag: String, report: Boolean): Unit = {
      val root = s"${sys.props("java.io.tmpdir")}/graft_repair_bench_$tag"
      val src = Lake(spark, LakeConfig(s"$root/src", dim = dim, numHashes = 5))
      src.delete()
      src.ingest(rowsDf(baseRows * scale))
      Lake(spark, LakeConfig(s"$root/rep", dim = dim, numHashes = 5)).delete()
      val rep = src.cloneTo(s"$root/rep")
      // out-of-band divergence confined to 2 of the 32 shards: partial
      // deletes in one, a count-neutral tamper in the other. The two
      // MEDIAN-sized shards — the synthetic sin-pattern vectors route
      // very unevenly (the fullest shard holds ~40% of rows), and a
      // median pick keeps the probe about the claimed shape (k of N
      // directories) rather than about this generator's skew; the
      // reported diverged_rows/total keeps the fraction honest
      import spark.implicits._
      val counts = rep.read().groupBy("shard").count()
        .orderBy(col("count")).select("shard").as[Int].collect()
      val byShard = counts.slice(counts.length / 2 - 1, counts.length / 2 + 1)
      rep.deleteWhere(col("shard") === byShard(0) &&
        col("document").endsWith("3"))
      val victim = rep.read().where(col("shard") === byShard(1))
        .select("id").as[String].head()
      rep.upsert(rep.read().where(col("id") === victim)
        .select(col("vector"), lit("tampered").as("document"), col("id")))
      val (tRepair, healed) = time(rep.repairFrom(src))
      require(healed._1 == 2L, s"expected 2 convicted shards, got $healed")
      // converged pass: audit only, rewrites nothing
      val (tNoop, noop) = time(rep.repairFrom(src))
      require(noop == ((0L, 0L)), s"repair did not converge: $noop")
      // the O(data) alternative a repair replaces
      Lake(spark, LakeConfig(s"$root/rec", dim = dim, numHashes = 5)).delete()
      val (tReclone, rec) = time(src.cloneTo(s"$root/rec"))
      if (report)
        println(s"""{"probe":"repair","rows":${baseRows * scale},""" +
          s""""diverged_shards":2,"shards":${counts.length},""" +
          s""""repair_sec":${f"$tRepair%.2f"},""" +
          s""""repaired_rows":${healed._2},"noop_sec":${f"$tNoop%.2f"},""" +
          s""""reclone_sec":${f"$tReclone%.2f"}}""")
      src.delete(); rep.delete(); rec.delete()
    }
    run(1, "warm", report = false) // codegen/classload warm-up
    run(1, "x1", report = true)
    run(10, "x10", report = true)
    spark.stop()
  }
}

/** CO-LOCATED DERIVED TABLE cost shapes ([[Lake.deriveTo]] /
  * [[Lake.joinDerived]]) at 1× and 10× data:
  *
  *  - full build vs INCREMENTAL refresh after shard-confined churn —
  *    the refresh diffs the change feed and rewrites only affected
  *    shard directories, so its cost tracks the churn's directory
  *    footprint, not the corpus (the rebuild is the O(corpus)
  *    ceiling);
  *  - the feature join with SPJ vs forced-stock — the headline is the
  *    exchange count (0 vs >0): at local[32] toy scale the wire is
  *    cheap, on a 1000-executor cluster every exchange re-hashes
  *    corpus + features across the network.
  *
  * Args: [rows] [dim]. */
object DerivedBench {
  def main(args: Array[String]): Unit = {
    val baseRows = if (args.length > 0) args(0).toLong else 100000L
    val dim = if (args.length > 1) args(1).toInt else 16
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def time[T](f: => T): (Double, T) = {
      val t = System.nanoTime(); val r = f; ((System.nanoTime() - t) / 1e9, r)
    }
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan): Int =
      p.collect {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          shuffles(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          shuffles(q.plan)
      }.sum
    def rowsDf(n: Long) = spark.range(n)
      .select(col("id").as("num"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => sin(col("id") * 7919 + i * 104729) * 0.15)
          .cast("array<float>").as("vector"))
      .select(col("vector"), concat(lit("r-"), col("num")).as("id"),
        concat(lit("doc "), col("num")).as("document"))
    def feat(df: org.apache.spark.sql.DataFrame) = df.select(
      col("id"), col("shard"), length(col("document")).as("doc_len"),
      round(graft.functions.VectorFunctions.l2Norm(col("vector")), 6)
        .as("norm"))
    def run(scale: Int, tag: String, report: Boolean): Unit = {
      val root = s"${sys.props("java.io.tmpdir")}/graft_derived_bench_$tag"
      val lake = Lake(spark, LakeConfig(s"$root/lake", dim = dim, numHashes = 5))
      lake.delete()
      lake.ingest(rowsDf(baseRows * scale))
      val floc = s"$root/feat"
      graft.DerivedTable.fsOf(spark, floc)
        .delete(new org.apache.hadoop.fs.Path(floc), true)
      val (tFull, d0) = time(lake.deriveTo(floc)(feat))
      // SHARD-CONFINED churn: 500 new rows reusing one stored vector
      // (identical routing), then half of them deleted — the feed
      // names one shard, the refresh rewrites one directory
      val v0 = lake.read().select("vector").head()
        .getSeq[Float](0).toArray
      val churn = (0 until 500).map(i =>
        (v0.toSeq, s"churn-$i", s"churn doc $i"))
        .toDF("vector", "id", "document")
      lake.ingest(churn)
      lake.deleteWhere(col("id").startsWith("churn-2"))
      val (tRefresh, d1) = time(lake.deriveTo(floc)(feat))
      require(d1.baseVersion > d0.baseVersion, "refresh did not advance")
      val (tRebuild, _) = time(lake.deriveTo(floc, rebuild = true)(feat))
      val dFinal = graft.DerivedTable.load(spark, floc)
      def join(spj: Boolean): (Double, Int, Long) = {
        // per-SHARD aggregate consumption: rides the key-grouped
        // partitioning, so the whole spj plan (scan → join → agg) is
        // exchange-free; a global agg would add its own single-row
        // shuffle and muddy the 0-vs-stock headline
        val df = lake.joinDerived(dFinal, spj = spj)
          .groupBy(col("shard"))
          .agg(sum(col("doc_len")).as("s"), count(lit(1)).as("n"))
        val (t, r) = time(df.collect())
        (t, shuffles(df.queryExecution.executedPlan),
          r.map(_.getLong(2)).sum)
      }
      val (tSpj, exSpj, nSpj) = join(spj = true)
      val (tStock, exStock, nStock) = join(spj = false)
      require(nSpj == nStock, s"join modes disagree: $nSpj vs $nStock")
      if (report)
        println(s"""{"probe":"derived","rows":${baseRows * scale},""" +
          s""""full_sec":${f"$tFull%.2f"},""" +
          s""""refresh_sec":${f"$tRefresh%.2f"},""" +
          s""""rebuild_sec":${f"$tRebuild%.2f"},""" +
          s""""join_spj_sec":${f"$tSpj%.2f"},"join_spj_exchanges":$exSpj,""" +
          s""""join_stock_sec":${f"$tStock%.2f"},""" +
          s""""join_stock_exchanges":$exStock,"join_rows":$nSpj}""")
      lake.delete()
      graft.DerivedTable.fsOf(spark, floc)
        .delete(new org.apache.hadoop.fs.Path(floc), true)
      ()
    }
    run(1, "warm", report = false) // codegen/classload warm-up
    run(1, "x1", report = true)
    run(10, "x10", report = true)
    spark.stop()
  }
}
