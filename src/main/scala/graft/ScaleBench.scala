package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

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
