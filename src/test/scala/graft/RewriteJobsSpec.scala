package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, lit}

/** A rewrite costs a fixed handful of Spark jobs, whatever the lake's
  * size. A row-level write runs a batch aggregate, one discovery
  * aggregate and the write; a compaction runs only the write — its
  * source count and the post-write row check read Parquet footers and
  * run no job. A predicate delete keeps its discovery scan pruned, and
  * an empty replica's first apply is a plain append. */
class RewriteJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Spark jobs `op` starts, counted by job group. */
  private def jobsOf[A](op: => A): (A, Int) = {
    val group = s"rewrite-jobs-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "rewrite job count")
    try {
      val out = op
      org.apache.spark.ListenerBusDrain(sc)
      (out, n.get)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  /** The query executions `op` runs, each with its plans. */
  private def plansOf(op: => Unit): Seq[org.apache.spark.sql.execution.QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = seen.add(qe)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { op; org.apache.spark.ListenerBusDrain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    seen.toArray(Array.empty[org.apache.spark.sql.execution.QueryExecution]).toSeq
  }

  /** Every file scan of a physical plan, into adaptive query stages. */
  private def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scansOf(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansOf(q.plan)
  }.flatten

  /** 16 shards, 2k rows in two commits. */
  private def lake(): Lake = {
    val dir = java.nio.file.Files.createTempDirectory("graft_rewrite_jobs").toString
    val l = Lake(spark, LakeConfig(s"$dir/lake", dim = 8, numHashes = 4))
    val rng = new scala.util.Random(7)
    (0 until 2).foreach { b =>
      l.ingest((0 until 1000).map(i =>
        (s"b$b-$i", Seq.fill(8)(rng.nextGaussian().toFloat), s"doc $b-$i"))
        .toDF("id", "vector", "document"))
    }
    l
  }

  test("deleteIds of 8 ids runs at most 5 Spark jobs") {
    val l = lake()
    val (deleted, jobs) = jobsOf(l.deleteIds((0 until 8).map(i => s"b1-$i")))
    assert(deleted === 8L)
    info(s"deleteIds: $jobs Spark jobs")
    assert(jobs <= 5, s"deleteIds ran $jobs Spark jobs")
    assert(l.count() === 1992L)
  }

  test("an 8 + 8 upsert runs at most 10 Spark jobs") {
    val l = lake()
    val rng = new scala.util.Random(8)
    val batch = ((0 until 8).map(i => s"b1-$i") ++ (0 until 8).map(i => s"u$i"))
      .map(id => (id, Seq.fill(8)(rng.nextGaussian().toFloat), s"$id v2"))
      .toDF("id", "vector", "document")
    val (replaced, jobs) = jobsOf(l.upsert(batch))
    assert(replaced === 8L)
    info(s"upsert: $jobs Spark jobs")
    assert(jobs <= 10, s"upsert ran $jobs Spark jobs")
    assert(l.count() === 2008L)
  }

  test("compactIncremental of fragmented shards runs at most 3 Spark jobs") {
    val l = lake() // two commits: two files in every shard
    val (rewritten, jobs) = jobsOf(l.compactIncremental(maxFilesPerShard = 1))
    assert(rewritten === 16L)
    info(s"compactIncremental: $jobs Spark jobs")
    assert(jobs <= 3, s"compactIncremental ran $jobs Spark jobs")
    assert(l.count() === 2000L)
    assert(l.liveDirPaths().size === 16)
  }

  test("a full compact runs at most 3 Spark jobs") {
    val l = lake()
    val (files, jobs) = jobsOf(l.compact())
    assert(files === 16L)
    info(s"compact: $jobs Spark jobs")
    assert(jobs <= 3, s"compact ran $jobs Spark jobs")
    assert(l.count() === 2000L)
  }

  test("deleteWhere on the partition column scans only that partition") {
    val l = lake()
    val before = l.read().where(col("shard") === 3).count()
    var deleted = 0L
    val plans = plansOf { deleted = l.deleteWhere(col("shard") === 3) }
    assert(deleted === before && before > 0L)
    val scans = plans.flatMap(qe => scansOf(qe.executedPlan))
    assert(scans.nonEmpty)
    scans.foreach(s => assert(s.partitionFilters.nonEmpty,
      s"an unpruned scan ran under deleteWhere: ${s.simpleString(200)}"))
    assert(l.count() === 2000L - before)
  }

  test("an empty replica's first applyChanges is a plain append: no netting join") {
    val src = lake()
    val dir = java.nio.file.Files.createTempDirectory("graft_rewrite_boot").toString
    val replica = Lake(spark, src.cfg.copy(location = s"$dir/replica"))
    var applied = (0L, 0L)
    val plans = plansOf {
      applied = replica.applyChanges(src.read().withColumn("change", lit("insert")))
    }
    assert(applied === ((0L, 2000L)))
    val joins = plans.flatMap(_.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.joinType.toString
    })
    assert(joins.isEmpty, s"a bootstrap apply joined: ${joins.mkString(", ")}")
    def ids(l: Lake) = l.read().select("id", "document", "shard")
      .as[(String, String, Int)].collect().toSet
    assert(ids(replica) === ids(src))
  }
}
