package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

import graft.Lake

/** Maintenance as SQL stored procedures — the last lifecycle surface
  * that needed Scala. With these, a platform team's cron and an
  * operator's console both speak pure SQL:
  *
  * {{{
  *   CALL lakes.system.maintain(table => 'default.corpus')
  *   CALL lakes.system.compact(table => 'default.corpus', target_bytes => 268435456)
  *   CALL lakes.system.vacuum(table => 'default.corpus', retain_ms => 86400000)
  *   CALL lakes.system.repair(table => 'default.corpus')
  *   CALL lakes.system.seal(table => 'default.corpus')
  *   SHOW PROCEDURES IN lakes.system
  * }}}
  *
  * Each procedure resolves its `table` argument through the SAME
  * catalog pointer/directory rules as any `SELECT` (so managed,
  * external, and adopted lakes all work), funnels into the
  * corresponding [[graft.Lake]] call — identical locks, identical
  * commit protocol, identical refusals — and returns the call's report
  * as a one-row result set ([[org.apache.spark.sql.connector.read.LocalScan]]:
  * driver-side rows, no job). A raw lake path (anything containing
  * `/`) is accepted too, mirroring `spark.read.format("graft").load`.
  *
  * 100 TB posture: procedures are a control plane — argument parsing
  * and result marshalling are O(1); all data movement happens inside
  * the underlying maintenance op, which carries its own scale story
  * (incremental compaction O(dirty shards), vacuum O(dead dirs),
  * maintain's no-op flatness — see their scaladoc).
  *
  * Reference: the reference has no maintenance surface at all (no
  * compaction, no retention, no repair — vector_lake/index.py holds
  * whatever parquet it wrote); this completes the engine-native
  * operational story SQL-first. */
private[graft] object GraftProcedures {

  /** Procedure names under the catalog's `system` namespace. */
  val names: Seq[String] =
    Seq("maintain", "compact", "vacuum", "repair", "seal", "clone", "sync",
      "diff", "heal", "expire", "reshard", "derive", "derive_rekey")

  /** A [[graft.Lake.deriveTo]] transform from SQL text: the input
    * frame registers under a unique temp view, `__base__` substitutes
    * to it, and the view drops immediately — analysis is eager, so the
    * returned frame's plan holds the RESOLVED subtree, never the view
    * name. Works identically for the build (sealed base), the refresh
    * (inserted delta), and the no-churn schema probe (empty frame). */
  private def sqlTransform(sqlText: String)
      : org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    df => {
      require(sqlText.contains("__base__"),
        "graft derive: the transform SELECT must read FROM __base__ " +
          "(the placeholder the engine binds to the base rows)")
      val v = "graft_base_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      df.createOrReplaceTempView(v)
      try df.sparkSession.sql(sqlText.replace("__base__", v))
      finally { df.sparkSession.catalog.dropTempView(v); () }
    }

  def load(name: String, resolve: String => Lake): Option[UnboundProcedure] = {
    def p(n: String, dt: DataType, comment: String): ProcedureParameter =
      ProcedureParameter.in(n, dt).comment(comment).build()
    def pd(n: String, dt: DataType, default: String,
        comment: String): ProcedureParameter =
      ProcedureParameter.in(n, dt).defaultValue(default).comment(comment).build()
    val table = p("table", StringType,
      "catalog table ('ns.name' or 'name') or a lake root path")

    name match {
      case "maintain" => Some(new LakeProcedure(
        "maintain", resolve,
        Array(table,
          pd("target_bytes", LongType, (128L * 1024 * 1024).toString,
            "compaction target file size"),
          pd("max_files_per_shard", IntegerType, "4",
            "file-count slack below which a shard is never rewritten"),
          pd("retain_ms", LongType, (7L * 24 * 3600 * 1000).toString,
            "vacuum retention window for dead generations"),
          pd("ttl_ms", LongType, "-1",
            "when >= 0, expire rows older than now - ttl_ms first " +
              "(tiered retention, see the expire procedure)"),
          pd("target_shard_bytes", LongType,
            Lake.defaultTargetShardBytes.toString,
            "oversized-shard threshold behind reshard_recommended: " +
              "once the largest shard directory crosses this, one " +
              "more hyperplane (CALL reshard) is justified work")),
        StructType(Seq(
          StructField("compacted_shards", LongType, nullable = false),
          StructField("skip_refreshed", BooleanType, nullable = false),
          StructField("vacuum_swept", LongType, nullable = false),
          StructField("recall_recalibrated", BooleanType, nullable = false),
          StructField("expired_rows", LongType, nullable = false),
          StructField("max_shard_bytes", LongType, nullable = false),
          StructField("median_shard_bytes", LongType, nullable = false),
          StructField("reshard_recommended", BooleanType, nullable = false),
          StructField("reshard_pending_dirs", LongType, nullable = false))),
        "one-call maintenance policy: runs only the work the lake's health signals justify",
        (lake, in) => {
          val r = lake.maintain(targetBytes = in.getLong(1),
            maxFilesPerShard = in.getInt(2), retainMs = in.getLong(3),
            ttlMs = in.getLong(4), targetShardBytes = in.getLong(5))
          InternalRow(r.compactedShards, r.skipRefreshed, r.vacuumSwept,
            r.recallRecalibrated, r.expiredRows, r.maxShardBytes,
            r.medianShardBytes, r.reshardRecommended, r.reshardPendingDirs)
        }))
      case "compact" => Some(new LakeProcedure(
        "compact", resolve,
        Array(table,
          pd("target_bytes", LongType, (128L * 1024 * 1024).toString,
            "target file size"),
          pd("incremental", BooleanType, "true",
            "rewrite only over-fragmented shards (false = full rewrite)"),
          pd("max_files_per_shard", IntegerType, "4",
            "incremental mode's file-count slack"),
          pd("cluster_by", StringType, "''",
            "comma-separated columns to range-cluster within each " +
              "shard (preserves zone-map selectivity after the " +
              "rewrite; empty = hash slicing)")),
        StructType(Seq(StructField("rewritten", LongType, nullable = false))),
        "compaction: incremental (shards rewritten) or full (files after rewrite)",
        (lake, in) => {
          val cluster = Option(in.getUTF8String(4)).map(_.toString)
            .getOrElse("").split(",").map(_.trim).filter(_.nonEmpty)
            .map(org.apache.spark.sql.functions.col _).toSeq
          InternalRow(
            if (in.getBoolean(2))
              lake.compactIncremental(targetBytes = in.getLong(1),
                maxFilesPerShard = in.getInt(3), clusterBy = cluster)
            else lake.compact(targetBytes = in.getLong(1),
              clusterBy = cluster))
        }))
      case "expire" => Some(new LakeProcedure(
        "expire", resolve,
        Array(table,
          p("retain_ms", LongType,
            "keep rows whose timestamp is within this window of now; " +
              "everything older is deleted (zone-certified old " +
              "directories by pure manifest retirement, the rest by " +
              "transactional rewrite)")),
        StructType(Seq(
          StructField("retired_rows", LongType, nullable = false),
          StructField("rewritten_rows", LongType, nullable = false))),
        "TTL retention: delete rows older than now - retain_ms at the cheapest provable tier",
        (lake, in) => {
          val retain = in.getLong(1)
          require(retain >= 0L, s"expire: retain_ms must be >= 0, got $retain")
          val (retired, rewritten) = lake.expire(
            java.time.Instant.now().minusMillis(retain))
          InternalRow(retired, rewritten)
        }))
      case "vacuum" => Some(new LakeProcedure(
        "vacuum", resolve,
        Array(table,
          pd("retain_ms", LongType, "0",
            "keep dead generations/sidecars younger than this"),
          pd("force", BooleanType, "false",
            "also clear stale locks and markers (repair posture)")),
        StructType(Seq(StructField("swept", LongType, nullable = false))),
        "sweep dead generations and superseded sidecars past the retention window",
        (lake, in) => InternalRow(
          lake.vacuum(force = in.getBoolean(2), retainMs = in.getLong(1)))))
      case "repair" => Some(new LakeProcedure(
        "repair", resolve, Array(table),
        StructType(Seq(StructField("swept", LongType, nullable = false))),
        "force-vacuum: clear stale locks/markers and sweep dead state",
        (lake, _) => InternalRow(lake.repair())))
      case "seal" => Some(new LakeProcedure(
        "seal", resolve, Array(table),
        StructType(Seq(StructField("version", LongType, nullable = false))),
        "commit a sealed snapshot version (the change-feed sync point)",
        (lake, _) => InternalRow(lake.seal())))
      case "clone" => Some(new LakeProcedure(
        "clone", resolve,
        Array(table,
          p("target_location", StringType,
            "root directory of the new lake (must be empty)"),
          pd("as_of", LongType, "-1",
            "sidecar version to clone at (-1 = current state)")),
        StructType(Seq(
          StructField("target", StringType, nullable = false),
          StructField("rows", LongType, nullable = false))),
        "deep-clone the lake (or an asOf snapshot) to a new independent location",
        (lake, in) => {
          val target = in.getUTF8String(1).toString
          val asOf = in.getLong(2) match {
            case -1L => None
            case v => Some(v)
          }
          val clone = lake.cloneTo(target, asOf)
          InternalRow(
            org.apache.spark.unsafe.types.UTF8String.fromString(target),
            clone.read().count())
        }))
      case "sync" => Some(new LakeProcedure(
        "sync", resolve,
        Array(p("replica", StringType,
          "catalog table ('ns.name' or 'name') or lake root path of the REPLICA"),
          p("source", StringType,
            "catalog table or lake root path of the SOURCE to follow"),
          p("from_version", LongType,
            "the replica's current cut (a sealed source version)"),
          p("to_version", LongType,
            "the sealed source version to advance to")),
        StructType(Seq(
          StructField("deleted", LongType, nullable = false),
          StructField("inserted", LongType, nullable = false))),
        "advance a replica by the source's netted change feed (O(churn), never O(data))",
        (replica, in) => {
          val source = resolve(in.getUTF8String(1).toString)
          val (d, i) =
            replica.syncFrom(source, in.getLong(2), in.getLong(3))
          InternalRow(d, i)
        }))
      case "diff" => Some(new LakeProcedure(
        "diff", resolve,
        Array(p("replica", StringType,
          "catalog table ('ns.name' or 'name') or lake root path of the REPLICA"),
          p("source", StringType,
            "catalog table or lake root path of the SOURCE to audit against")),
        StructType(Seq(
          StructField("shards", LongType, nullable = false),
          StructField("diverged", LongType, nullable = false),
          StructField("rows_replica", LongType, nullable = false),
          StructField("rows_source", LongType, nullable = false))),
        "per-shard divergence audit summary (count + content-fingerprint " +
          "verdict riding the zero-exchange storage-partitioned join); " +
          "diverged > 0 is what CALL heal repairs",
        (replica, in) => {
          val source = resolve(in.getUTF8String(1).toString)
          // |shards|-BOUNDED collect: the audit's output is two
          // aggregated rows per shard, never row data — summarizing
          // driver-side is O(shards), the same scale class as every
          // manifest operation. The result-row SHAPES of the
          // replication procedures are a PySpark-facing contract,
          // pinned in GraftProceduresSpec.
          val audit = replica.diffStats(source).collect()
          InternalRow(audit.length.toLong,
            audit.count(!_.getBoolean(3)).toLong,
            audit.map(_.getLong(1)).sum, audit.map(_.getLong(2)).sum)
        }))
      case "reshard" => Some(new LakeProcedure(
        "reshard", resolve,
        Array(table,
          p("num_hashes", IntegerType,
            "target hyperplane count (2^num_hashes shards); must be " +
              ">= the lake's current width — resume an interrupted " +
              "reshard by calling again with the SAME target"),
          pd("max_dirs", IntegerType, Int.MaxValue.toString,
            "bound this call's work to at most this many source " +
              "directories (spread a large reshard across maintenance " +
              "windows; pending work resumes on the next call)"),
          pd("dirs_per_commit", IntegerType, "64",
            "source directories rewritten per committed step")),
        StructType(Seq(
          StructField("num_shards", LongType, nullable = false),
          StructField("pending_dirs", LongType, nullable = false))),
        "incremental LSH reshard: grow the routing width by per-" +
          "directory committed rewrites (resumable; reads stay " +
          "correct mid-reshard through the Scala API; pending_dirs 0 " +
          "means complete)",
        (lake, in) => {
          // the catalog resolved `lake` at the SIDECAR's width, so a
          // resume call arrives already at the target width and a
          // fresh call at the old one — exactly reshard()'s two modes
          val after = lake.reshard(in.getInt(1),
            maxDirs = in.getInt(2), dirsPerCommit = in.getInt(3))
          InternalRow(after.lsh.numShards.toLong,
            after.reshardStatus().map(_._3).getOrElse(0L))
        }))
      case "derive" => Some(new LakeProcedure(
        "derive", resolve,
        Array(table,
          p("target", StringType,
            "derived-table root path (the Lake.deriveTo location; " +
              "register it afterwards with CREATE TABLE ... USING " +
              "graft LOCATION for pure-SQL joins)"),
          p("transform", StringType,
            "SELECT producing id, shard, and the feature columns from " +
              "the placeholder table __base__ (the sealed base on a " +
              "build, the inserted delta on a refresh — the same " +
              "contract as deriveTo's transform)"),
          pd("rebuild", BooleanType, "false",
            "force the full-snapshot path (required after a changed " +
              "transform schema or a vacuumed sync point)")),
        StructType(Seq(
          StructField("base_version", LongType, nullable = false),
          StructField("generation", LongType, nullable = false),
          StructField("num_shards", LongType, nullable = false),
          StructField("live_dirs", LongType, nullable = false))),
        "create or incrementally refresh a co-located derived feature " +
          "table (SQL face of Lake.deriveTo: the first call builds, " +
          "later calls diff the change feed and rewrite only affected " +
          "shards — O(churn), never O(corpus))",
        (lake, in) => {
          val d = lake.deriveTo(in.getUTF8String(1).toString,
            rebuild = in.getBoolean(3))(
            sqlTransform(in.getUTF8String(2).toString))
          InternalRow(d.state.baseVersion, d.state.generation,
            d.numShards.toLong, d.state.live.size.toLong)
        }))
      case "derive_rekey" => Some(new LakeProcedure(
        "derive_rekey", resolve,
        Array(table,
          p("target", StringType, "derived-table root path"),
          p("transform", StringType,
            "the SAME __base__ SELECT the table was derived with — " +
              "recomputed only over real churn around the reshard")),
        StructType(Seq(
          StructField("base_version", LongType, nullable = false),
          StructField("generation", LongType, nullable = false),
          StructField("num_shards", LongType, nullable = false))),
        "re-co-locate a derived table after the base lake was " +
          "resharded: re-keys feature rows from the base's (id, shard) " +
          "mapping — O(feature bytes), never re-running the transform " +
          "over the corpus (SQL face of Lake.reshardDerived)",
        (lake, in) => {
          val d = lake.reshardDerived(in.getUTF8String(1).toString)(
            sqlTransform(in.getUTF8String(2).toString))
          InternalRow(d.state.baseVersion, d.state.generation,
            d.numShards.toLong)
        }))
      case "heal" => Some(new LakeProcedure(
        "heal", resolve,
        Array(p("replica", StringType,
          "catalog table ('ns.name' or 'name') or lake root path of the REPLICA"),
          p("source", StringType,
            "catalog table or lake root path of the authoritative SOURCE")),
        StructType(Seq(
          StructField("shards_repaired", LongType, nullable = false),
          StructField("rows_rewritten", LongType, nullable = false))),
        "anti-entropy repair: rewrite only the shards the diff audit " +
          "convicts (O(diverged partitions), never O(data)) — the " +
          "recovery path when the change feed cannot replay",
        (replica, in) => {
          val source = resolve(in.getUTF8String(1).toString)
          val (sh, rw) = replica.repairFrom(source)
          InternalRow(sh, rw)
        }))
      case _ => None
    }
  }
}

/** One lake-scoped procedure: `table` is always parameter 0 and is
  * resolved through the owning catalog's rules; `run` sees the
  * coerced, default-filled argument row Spark binds to
  * [[parameters]]. Unbound and bound are the same object — the
  * parameter list is static, so [[bind]] has nothing to specialize. */
private final class LakeProcedure(
    procName: String,
    resolve: String => Lake,
    params: Array[ProcedureParameter],
    outSchema: StructType,
    describe: String,
    run: (Lake, InternalRow) => InternalRow)
  extends UnboundProcedure with BoundProcedure {

  override def name(): String = procName
  override def description(): String = describe
  override def bind(inputType: StructType): BoundProcedure = this
  override def parameters(): Array[ProcedureParameter] = params
  // every procedure mutates (or at least re-stamps) lake state
  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    // EVERY argument slot must be non-null, not just `table`: a NULL
    // in a primitive slot would silently unbox to 0/false (e.g.
    // `retain_ms => NULL` sweeping every dead generation immediately,
    // `incremental => NULL` forcing a full rewrite) — refuse loudly;
    // omitting the argument is how you ask for the default
    params.indices.foreach(i => require(!input.isNullAt(i),
      s"graft procedure $procName: argument `${params(i).name}` is NULL — " +
        "omit the argument to use its default"))
    val lake = resolve(input.getUTF8String(0).toString)
    val row = run(lake, input)
    val scan: Scan = new LocalScan {
      override def readSchema(): StructType = outSchema
      override def rows(): Array[InternalRow] = Array(row)
      override def description(): String = s"graft procedure $procName result"
    }
    java.util.Collections.singletonList(scan).iterator()
  }
}
