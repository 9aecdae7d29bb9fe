package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Rewrites a lake's newest sidecar as a writer from before appends
  * committed their files would have left it: the current generation
  * neither recorded nor named, so it resolves by listing its tree. The
  * one way a file put into the current generation out of band (a foreign
  * writer's file, a moved file) is part of the lake — what the audit
  * specs need to show the audit surfacing it. */
object PreRecordingSidecar {
  def apply(spark: SparkSession, lake: Lake): Unit = {
    val fs = new Path(lake.cfg.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newest = new Path(lake.cfg.location,
      s"_meta.${lake.currentVersion().get}.json")
    val sc = ControlFiles.read[ControlFiles.LakeSidecar](fs, newest)
    ControlFiles.write(fs, newest, sc.copy(genRecorded = None,
      live = sc.live.filter(_.g != sc.generation),
      files = sc.files.map(_.filter(!_.fg.contains(sc.generation)))),
      overwrite = true)
  }
}
