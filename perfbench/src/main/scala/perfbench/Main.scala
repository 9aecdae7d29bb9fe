package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The measuring half of the benchmark: one JVM, one Spark session
  * (`local[cores]`), one client thread issuing ops in a closed loop.
  * Writes every raw measurement as JSON; `run.py` turns them into
  * metrics and checks results against the oracles.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <workDir> <out.json>
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 6,
      "usage: Main <workload> <seed> <seconds> <trace> <workDir> <out.json>")
    val Array(workload, seedS, secondsS, traceS, workDir, out) = args
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      .config("spark.hadoop.fs.pbfs.impl", classOf[CountingFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val w: Workload = workload match {
      case "registry" => new RegistryWorkload(spark, rec, seed, workDir)
      case "scan" => new ScanWorkload(spark, rec, seed, workDir)
      case "churn" => new ChurnWorkload(spark, rec, seed, workDir)
      case other => sys.error(s"unknown workload $other")
    }
    val t1 = System.nanoTime()
    rec.tracing = trace
    w.setup()
    rec.tracing = false
    val setupS = sessionS + (System.nanoTime() - t1) / 1e9

    // closed loop over the fixed op list, as many passes as fill the
    // window at the workload's nominal pass time: the count depends on
    // --seconds only, never on how fast this machine happens to be. A
    // traced run alternates traced and untraced passes after a first
    // untraced one, so the two compare under the same load and warmth.
    val passes = math.max(1, math.round(seconds / w.passSeconds).toInt)
    (0 until (if (trace) 1 + 2 * passes else passes)).foreach { i =>
      rec.timedPass(trace && i % 2 == 1)(w.pass(i))
    }
    val t2 = System.nanoTime()
    rec.tracing = trace
    w.check()
    val checkS = (System.nanoTime() - t2) / 1e9

    val meta = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cores" -> cores,
      "spark" -> spark.version, "jvm" -> System.getProperty("java.version"),
      "session_s" -> sessionS, "setup_s" -> setupS, "check_s" -> checkS)
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(meta ++ rec.result ++ Map("facts" -> w.facts))
    Files.writeString(Paths.get(out), json)
  }

  /** Deletes a local directory tree (benchmark scratch only). */
  def rmrf(path: String): Unit = {
    def go(f: File): Unit = {
      Option(f.listFiles).foreach(_.foreach(go))
      f.delete()
    }
    go(new File(path))
  }
}

/** One workload: untimed setup, a fixed op list per pass, checks after
  * the timed window, and facts for the correctness report. */
trait Workload {
  def setup(): Unit
  def pass(i: Int): Unit
  def check(): Unit
  /** Nominal seconds of one pass, which sizes the number of passes. */
  def passSeconds: Double
  def facts: Map[String, Any]
}
