package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registry query at `SPARK_GRAFT_SF_DIR`,
  * prints ONE JSON line with per-query seconds. A failing query is
  * REPORTED (per-query `errors` entry + non-zero exit), never silently
  * timed as a fast no-op — a regression must not hide in a good total.
  *
  * Reps are INTERLEAVED across the suite: the full registry runs
  * `SPARK_GRAFT_REPS` times (default 3) and each query reports the
  * median ACROSS passes. Back-to-back per-query reps share any
  * container-load spike, so their median is as poisoned as a single
  * run — round 5's driver bench inflated untouched queries 5× that way
  * (q_tpch_q5 recorded 1.73 s vs 0.28 s on a fresh rerun). Spreading a
  * query's reps minutes apart decorrelates the noise the median is
  * there to reject. `value` = sum of medians.
  *
  * The machine's 1-minute loadavg is sampled before and after the run
  * and carried in the output (`loadavg:[start,end]`), and the line
  * SELF-ADJUDICATES: `"contended":true` when the START sample exceeds
  * `SPARK_GRAFT_LOAD_THRESHOLD` (default 2.0 — round 6 measured ~15%
  * tail inflation at loadavg ≈ 4 while a fresh run at ≈ 0.8 matched
  * the judge's), OR when the END sample exceeds threshold plus the
  * run's own possible self-load — the bench's `local[cpus]` threads
  * legitimately drive the 1-minute loadavg toward `cpus`, but only
  * asymptotically: after `t` seconds of full load the EWMA reads at
  * most `cpus·(1−e^(−t/60))`, so the bound is DURATION-AWARE
  * (a flat `+cpus` allowance would hide a competitor that joined a
  * sub-minute run, while a plain either-sample rule self-flagged
  * every clean run once the registry crossed ~105 queries); excess
  * past the bound must be external. A contended artifact means
  * "rerun fresh before calling any regression", from the artifact
  * alone (BENCHNOTES.md).
  */
object Bench {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-query outcome: median seconds over successful passes (falling
    * back to failure timings when NO pass succeeded — the honest cost
    * of a query that never succeeds), first error, failed-pass count,
    * and the RELATIVE SPREAD of the timed samples ((max−min)/median;
    * 0 when fewer than two samples). The spread is the dispersion
    * stamp that makes the artifact regression-sensitive on its heavy
    * tail: a reader comparing two rounds can tell "2× but the spread
    * band already covers it" from "2× outside the band" without
    * hunting down fresh reruns. `taskSec` is the median across passes
    * of the query's summed executor task time (SparkListener
    * accounting) — the parallel-work evidence the wall clock cannot
    * carry at a fixed-cost-floored SF: taskSec/wall is the query's
    * average parallelism, and it is what an 8-core-vs-32-core
    * comparison should ratio (round-12 PERF flagged
    * `suspect_cpus_ignored` because wall alone cannot show
    * parallelism when per-query driver machinery dominates). */
  final case class QueryResult(sec: Double, err: Option[String],
      failedReps: Int, spread: Double = 0.0, taskSec: Double = 0.0)

  /** (max−min)/median of the timed samples — 0 for degenerate input. */
  def spreadOf(xs: Seq[Double]): Double = {
    if (xs.size < 2) return 0.0
    val med = median(xs)
    if (med <= 0.0) 0.0 else (xs.max - xs.min) / med
  }

  /** Fold per-pass timings into per-query results. The UNTIMED warm-up
    * pass never reaches this function — it exists so one-time
    * per-query costs (BuiltFixtures mutation-history builds, Janino
    * codegen) are paid before the first timed sample, making every
    * pass a serve-path measurement. `warmedUp` says whether that pass
    * ran: when it did, the spread uses ALL successful timed samples;
    * when it did not (SPARK_GRAFT_WARMUP_REPS=0), pass 0 is excluded
    * from the spread as before — it pays the one-time builds the
    * median already rejects, and folding it into the dispersion stamp
    * would flag most of the registry as "unstable" over a cost no
    * steady run re-pays. Medians always use every successful timed
    * sample (failure timings only when NO pass succeeded — the honest
    * cost of a query that never succeeds). BenchFormatSpec pins both
    * modes. */
  def summarize(names: Seq[String],
      passes: Seq[Map[String, (Double, Option[String])]],
      tailPasses: Seq[Map[String, (Double, Option[String])]],
      warmedUp: Boolean,
      taskSecs: Map[String, Seq[Double]] = Map.empty): Seq[(String, QueryResult)] = names.map { name =>
    val runs = passes.map(_(name)) ++ tailPasses.flatMap(_.get(name))
    // a failing pass can exit far faster than a real run and would
    // drag the median below the query's true cost — time successful
    // passes only
    val ok = runs.filter(_._2.isEmpty)
    val timed = if (ok.nonEmpty) ok else runs
    val spreadSamples =
      ((if (warmedUp) passes else passes.drop(1)).map(_(name)) ++
        tailPasses.flatMap(_.get(name))).filter(_._2.isEmpty)
    name -> QueryResult(median(timed.map(_._1)),
      runs.flatMap(_._2).headOption, runs.count(_._2.isDefined),
      spreadOf(spreadSamples.map(_._1)),
      taskSecs.get(name).filter(_.nonEmpty).map(median).getOrElse(0.0))
  }

  /** JSON string literal: truncate BEFORE escaping (a cut through the
    * middle of an escape sequence would emit invalid JSON), then escape
    * EVERY control char < 0x20 — JSON forbids them all raw. */
  def jstr(s: String): String = "\"" + s.take(160).flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def r3(v: Double): String =
    java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** The full-precision line (goes to BENCH_FULL.json + first stdout
    * line) and the compact final line. The harness keeps only the LAST
    * ~2000 bytes of stdout and parses the LAST line; at 92+ queries the
    * full-precision JSON is ~2.7 KB, so the retained tail would start
    * mid-line and the parse fail (BENCH_r01-r04 all recorded
    * `parsed: null`). The compact line is built under a hard character
    * budget — slowest queries first at millisecond precision, the
    * remainder folded into `omitted_n`/`omitted_sum` — and
    * BenchFormatSpec pins the byte ceiling against registry growth. */
  def formatLines(results: Seq[(String, QueryResult)], reps: Int,
      sfDir: String, loadavg: (Double, Double),
      loadThreshold: Double = 2.0, cpus: Int = 4,
      elapsedSec: Double = Double.MaxValue,
      tailReps: Int = 0): (String, String) = {
    val qs = results.map { case (k, r) => jstr(k) + ":" + r.sec }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, QueryResult(_, Some(m), _, _, _)) =>
      jstr(k) + ":" + jstr(m) }.mkString("{", ",", "}")
    val failedReps = results.collect { case (k, r) if r.failedReps > 0 =>
      jstr(k) + ":" + r.failedReps }.mkString("{", ",", "}")
    // full per-query dispersion rides only the FULL line; the compact
    // line carries the count of UNSTABLE queries (spread > 50% of
    // median — the band past which a same-machine 1.5× comparison is
    // noise, per BENCHNOTES' round-9 q18 post-mortem)
    val spreads = results.map { case (k, r) => jstr(k) + ":" + r3(r.spread) }
      .mkString("{", ",", "}")
    val unstable = results.filter(_._2.spread > 0.5)
    val total = results.map(_._2.sec).sum
    // per-query parallel-work accounting (scaling evidence — see
    // QueryResult.taskSec): full map on the full line, one total on
    // the compact line. Additions-only to both JSON shapes.
    val taskSecs = results.map { case (k, r) => jstr(k) + ":" + r3(r.taskSec) }
      .mkString("{", ",", "}")
    val taskSecTotal = results.map(_._2.taskSec).sum
    val la = s"[${r3(loadavg._1)},${r3(loadavg._2)}]"
    val contended = isContended(loadavg, loadThreshold, cpus, elapsedSec)
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"failed_reps":$failedReps,"spread":$spreads,"task_sec":$taskSecs,"task_sec_total":${r3(taskSecTotal)},"unstable_n":${unstable.size},"reps":$reps,"tail_reps":$tailReps,"loadavg":$la,"contended":$contended,"sf":"$sfDir"}"""
    // 30 chars ceded to the compact line's task_sec_total field so the
    // whole line stays under the same harness tail bound as before
    val budget = 1270
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    var omitted = 0
    var omittedSum = 0.0
    results.sortBy(-_._2.sec).foreach { case (k, r) =>
      val e = jstr(k) + ":" + r3(r.sec)
      if (used + e.length + 1 <= budget) { entries += e; used += e.length + 1 }
      else { omitted += 1; omittedSum += r.sec }
    }
    val errsCompact = results
      .collect { case (k, QueryResult(_, Some(m), _, _, _)) => jstr(k) + ":" + jstr(m.take(60)) }
      .take(3).mkString("{", ",", "}")
    val nErrs = results.count(_._2.err.isDefined)
    val nFailedReps = results.count(_._2.failedReps > 0)
    val compactLine =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":${entries.mkString("{", ",", "}")},"omitted_n":$omitted,"omitted_sum":${r3(omittedSum)},"errors":$errsCompact,"errors_n":$nErrs,"failed_reps_n":$nFailedReps,"task_sec_total":${r3(taskSecTotal)},"unstable_n":${unstable.size},"reps":$reps,"tail_reps":$tailReps,"n_queries":${results.size},"loadavg":$la,"contended":$contended,"sf":"$sfDir","detail":"BENCH_FULL.json"}"""
    (fullLine, compactLine)
  }

  /** The self-adjudication rule (shared by [[formatLines]] and the
    * retry decision in [[main]]). start: any pre-existing load poisons
    * the whole run. end: only the excess past what our own cpus threads
    * can have produced BY NOW is signal — the 1-minute EWMA reaches
    * cpus·(1−e^(−t/60)) after t seconds of full self-load, so a short
    * run's allowance is far below the flat `cpus` a long run earns
    * (see object scaladoc). */
  def isContended(loadavg: (Double, Double), loadThreshold: Double,
      cpus: Int, elapsedSec: Double): Boolean = {
    val selfLoadBound =
      cpus * (1 - math.exp(-math.max(0.0, elapsedSec) / 60.0))
    loadavg._1 > loadThreshold || loadavg._2 > loadThreshold + selfLoadBound
  }

  /** 1-minute loadavg (Linux /proc; 0.0 where unreadable — the field is
    * diagnostic, never load-bearing). */
  def loadavg1m(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => 0.0 }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // parse BEFORE the queries run: a malformed env value must fail in
    // the first second, not after ~35s of completed work whose output
    // would be discarded by the late NumberFormatException (this rules
    // out `local[*]` spelled as SPARK_GRAFT_CPUS=* — the contention
    // bound needs the numeric thread count anyway)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    val loadThreshold =
      sys.env.getOrElse("SPARK_GRAFT_LOAD_THRESHOLD", "2.0").toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      // the generated-class cache defaults to 100 entries; a 104-query
      // interleaved pass evicts every query's compiled classes between
      // its own reps, re-paying Janino compilation each pass (~30%
      // inflation measured). Sized to hold the whole registry — which is
      // also the right posture for a long-lived session serving many
      // distinct query shapes.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // co-located derived joins (Lake.joinDerived) key on (shard, id)
      // over scans key-grouped by shard alone — accepting that
      // co-partitioning needs the relaxed mode (the Iceberg SPJ
      // recipe). Semantics-preserving for every other query: the conf
      // only lets the planner ACCEPT existing co-partitioning it would
      // otherwise re-shuffle.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // file discovery: Spark launches a DISTRIBUTED listing job once a
      // read spans >32 paths (the default threshold) — on a sharded
      // lake that is one extra cluster job per read, and at bench scale
      // it dominated every lake-backed query's build (~0.3-0.7 s each;
      // q_knn_resharded 0.78→0.29 s with driver-side listing). Local
      // listStatus is microseconds per dir; a distributed listing only
      // pays off when per-path listing LATENCY × paths ≫ job overhead
      // (object stores with thousands of partitions) — set the env to
      // restore Spark's default there. Scale-adaptive by parameter,
      // never by hard-coding the cluster's shape (guide §2/§6).
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        sys.env.getOrElse("SPARK_GRAFT_DISCOVERY_THRESHOLD", "10000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: absorb codegen/JIT/classloading so the first timed
    // query measures the query, not session startup
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      SparkEntry.entry(spark).count()
    } catch { case _: Throwable => () }
    // one pass = the whole registry in a fixed order; reps of the same
    // query land minutes apart (see object scaladoc)
    val names = SparkEntry.queries.keys.toSeq.sorted
    // the heavy tail gets EXTRA interleaved reps: the top decile (by
    // preliminary median) carries most of the total AND showed the
    // widest absolute noise band (round 9's committed q_tpch_q18 was
    // 2.46× its round-8 number purely by draw — a real 2× regression
    // on the heaviest query would have been indistinguishable). With
    // 3 + 4 = 7 interleaved samples the median needs 4 coinciding
    // outliers to move, so the top decile's medians resolve a ~1.3×
    // change the 3-sample medians could not. Cheap by construction:
    // ~12 queries × 4 reps ≈ one extra pass of wall time.
    val tailReps = math.max(0,
      sys.env.getOrElse("SPARK_GRAFT_TAIL_REPS", "4").toInt)
    // parallel-work accounting: summed task wall time per query run,
    // via a listener (as perfbench's ExecListener counts per layer).
    // Queries run strictly sequentially, so attributing by snapshot
    // delta is sound up to listener-bus lag; both snapshots are taken
    // OUTSIDE the timed window after a short drain-until-stable wait,
    // so accounting never inflates the committed seconds and residual
    // lag only smears a few ms of task time into the neighbouring
    // query.
    val taskNs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskInfo != null)
            taskNs.addAndGet(t.taskInfo.duration * 1000000L)
      })
    def taskSnap(): Long = {
      var prev = -1L
      var cur = taskNs.get
      var waited = 0
      while (cur != prev && waited < 50) { // drain the async bus
        prev = cur; Thread.sleep(2L); waited += 2; cur = taskNs.get
      }
      cur
    }
    val taskSecs = scala.collection.mutable.Map
      .empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    def runOne(name: String): (Double, Option[String]) = {
      // drained baseline: a late task-end event of the previous query
      // lands before this snapshot, not in this query's delta
      val task0 = taskSnap()
      val t0 = System.nanoTime()
      val err: Option[String] =
        try { SparkEntry.queries(name)(spark, sfDir).count(); None }
        catch { case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)) }
      val sec = (System.nanoTime() - t0) / 1e9
      if (err.isEmpty)
        taskSecs(name) = taskSecs(name) :+ ((taskSnap() - task0) / 1e9)
      (sec, err)
    }
    // one UNTIMED warm-up pass (default on; SPARK_GRAFT_WARMUP_REPS=0
    // disables) runs the whole registry before any timed sample: it
    // absorbs the once-per-session BuiltFixtures mutation-history
    // builds (ingest → seal → mutate — seconds for the round-trip
    // fixtures) and each query shape's Janino compilation, so the
    // dispersion stamp measures the SERVE path only — round 10's
    // committed artifact read unstable_n 11 because fixture-backed
    // queries' first reps were measuring fixture construction.
    // Failures here are ignored: the timed passes will report them.
    val warmupReps = math.max(0,
      sys.env.getOrElse("SPARK_GRAFT_WARMUP_REPS", "1").toInt)
    def measure(): (Seq[(String, QueryResult)], (Double, Double), Double) = {
      val loadStart = loadavg1m()
      val wallStart = System.nanoTime() // warm-up counts into elapsed:
      // it is self-load, and the contention rule's duration-aware
      // allowance must cover it or a clean run would self-flag
      (0 until warmupReps).foreach { _ => names.foreach(runOne) }
      taskSecs.clear() // warmup pays one-time builds; account timed passes only
      val passes: Seq[Map[String, (Double, Option[String])]] =
        (0 until reps).map { _ => names.map(n => n -> runOne(n)).toMap }
      val prelim = summarize(names, passes, Nil, warmupReps > 0)
      val tail = prelim.sortBy(-_._2.sec)
        .take(math.max(1, names.size / 10)).map(_._1)
      val tailPasses: Seq[Map[String, (Double, Option[String])]] =
        (0 until tailReps).map { _ => tail.map(n => n -> runOne(n)).toMap }
      (summarize(names, passes, tailPasses, warmupReps > 0,
          taskSecs.toMap),
        (loadStart, loadavg1m()),
        (System.nanoTime() - wallStart) / 1e9)
    }
    // contended-retry discipline: a run whose self-adjudication says
    // "external load poisoned me" is re-run ONCE after a cooldown (wait
    // for the 1-minute EWMA to decay below threshold, bounded), so the
    // committed artifact is a fresh number whenever the machine allows
    // — not a flagged one a reader must discount. Every attempt's full
    // line is recorded as provenance; the parse-me LAST lines are the
    // COMMITTED attempt — the calmest one (lowest unstable_n, total
    // seconds as tiebreak), selected below, not blindly the final one.
    val retryMax = sys.env.getOrElse("SPARK_GRAFT_RETRY_CONTENDED", "1").toInt
    val cooldownMaxSec =
      sys.env.getOrElse("SPARK_GRAFT_COOLDOWN_MAX", "120").toInt
    // second retry trigger: DISPERSION. A co-tenant arriving mid-run
    // evades the loadavg rule (start clean, end excused by the
    // self-load allowance) but smears per-query spreads — clean runs
    // on this registry read unstable_n ≤ 11, poisoned ones 20-40
    // (BENCHNOTES r11). Past the bound, re-measure within the same
    // retry budget so the committed artifact is a calm number.
    val unstableRetryBound = sys.env.get("SPARK_GRAFT_UNSTABLE_RETRY")
      .map(_.toInt).getOrElse(math.max(12, names.size / 8))
    val attempts = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Boolean, Seq[(String, QueryResult)])]
    var go = true
    while (go) {
      val (results, la, elapsed) = measure()
      val (fullLine, compactLine) =
        formatLines(results, reps, sfDir, la, loadThreshold, cpus, elapsed,
          tailReps)
      val unstableN = results.count(_._2.spread > 0.5)
      val contended = isContended(la, loadThreshold, cpus, elapsed) ||
        unstableN > unstableRetryBound
      attempts += ((fullLine, compactLine, contended, results))
      if (contended && attempts.size <= retryMax) {
        System.err.println(s"[bench] contended (loadavg $la, unstable_n " +
          s"$unstableN/bound $unstableRetryBound): cooling " +
          s"down up to ${cooldownMaxSec}s, then retrying once")
        val deadline = System.nanoTime() + cooldownMaxSec * 1000000000L
        while (loadavg1m() > loadThreshold && System.nanoTime() < deadline)
          Thread.sleep(5000L)
      } else go = false
    }
    // commit the CALMEST attempt, not blindly the last: the retry's
    // whole premise is that dispersion (unstable_n) flags ambient
    // contamination, so when the retry lands in a WORSE window than the
    // attempt that triggered it (steady co-tenant arriving mid-cooldown
    // — observed: attempt 1 unstable_n 30, retry 123), committing the
    // retry would publish the noisier measurement. Selection key is
    // dispersion then total (a calmer window is also the faster one —
    // ambient load only ever adds time); every attempt's full line is
    // still recorded first as provenance.
    // track the chosen attempt BY INDEX — filtering provenance on
    // reference identity (`ne`) silently depended on each attempt's
    // line being a distinct String instance
    val chosenIdx = attempts.zipWithIndex.minBy { case (a, _) =>
      (a._4.count(_._2.spread > 0.5), a._4.map(_._2.sec).sum)
    }._2
    val (fullLine, compactLine, _, results) = attempts(chosenIdx)
    try {
      // deterministic detail artifact (the driver-readable full map):
      // non-chosen attempts in order as provenance, the COMMITTED
      // attempt's full line LAST — same order as stdout, so "last line
      // of the detail file" always names the committed numbers
      java.nio.file.Files.write(
        java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")),
        (attempts.zipWithIndex.collect {
          case (a, i) if i != chosenIdx => a._1 + "\n" }.mkString +
          fullLine + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // cwd may be unwritable; stdout still carries it
    // Emit the JSON lines LAST, after the session is down and its logging
    // silenced: Spark's shutdown INFO logs go to stderr and interleave
    // arbitrarily with stdout in a combined capture, which can bury the
    // line mid-stream for a tail-reading harness (BENCH_r01/r02 both
    // recorded `parsed: None` with a log-noise tail).
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    // contended provenance: every non-chosen attempt's full line first
    attempts.zipWithIndex.foreach { case (a, i) =>
      if (i != chosenIdx) println(a._1) }
    println(fullLine)
    println(compactLine)
    System.out.flush()
    if (results.exists(_._2.err.isDefined)) sys.exit(1)
  }
}
