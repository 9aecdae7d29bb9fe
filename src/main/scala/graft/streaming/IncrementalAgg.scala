package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

import graft.ControlFiles

/** INCREMENTAL MATERIALIZED AGGREGATES over the lake's change feed —
  * the downstream half of the `graft-changes` subscription story: a
  * consumer that keeps a grouped aggregate table continuously correct
  * by applying each micro-batch's row-level delta, never recomputing
  * from the corpus. The reference has nothing like it (its index is
  * re-derived per process, vector_lake/core/index.py:171); at 100 TB a
  * full groupBy recompute per refresh reads the world, while this
  * reads only what CHANGED.
  *
  * What it maintains: any SUM-DECOMPOSABLE aggregate — per-key values
  * of the form Σ f(row) over the live rows (counts via f = 1, sums,
  * and through them means/rates at read time). The netted change feed
  * emits each mutation as insert/delete rows, so the maintained value
  * is exact: value += f(inserted) − f(deleted).
  *
  * MIN/MAX under deletes are not sum-decomposable — a delete of the
  * current extreme invalidates the stored value. [[maintainWithExtremes]]
  * keeps them exact anyway with BOUNDED per-key recompute: inserts
  * tighten the stored extreme for free (`least`/`greatest`), and only
  * a key whose DELETED rows touched its stored extreme (deleted value
  * ≤ stored min / ≥ stored max) re-reads that key's live rows from the
  * supplied corpus — a semi-join on the dirty-key set, pushdown-
  * bounded, never a full recompute. Keys that never lose their extreme
  * row cost nothing. The recompute reads the corpus's CURRENT live
  * rows, so if the feed lags the lake an extreme can briefly reflect
  * newer corpus state than the sums — it converges exactly once the
  * feed drains. Exact distinct stays refused by construction (nothing
  * silently degrades); use the KMV sketch surfaces for that.
  *
  * State layout — the lake's own generation-pointer idea, reapplied:
  *
  * {{{
  *   statePath/
  *     _state.<v>.json            // pointer: batch_id + bucket -> owning version
  *     v<v>/__bucket=<b>/part-N.parquet
  * }}}
  *
  * Keys are hashed into `buckets` partitions. A micro-batch's delta
  * touches some bucket set A; the merge reads ONLY A's partitions from
  * their owning versions, merges the signed delta, writes A under a
  * NEW version dir, and commits a new pointer mapping A to it (all
  * other buckets keep their old owner). Three properties fall out:
  *
  *  - '''churn-proportional''': per-batch cost tracks |A| ≤ changed
  *    keys, never total state size — `IncrementalAggSpec` pins that a
  *    batch writes only the buckets it touches (BENCHNOTES.md records
  *    flat batch cost at 10× the key count);
  *  - '''exactly-once''': the pointer records the batch id. A replayed
  *    batch (foreachBatch is at-least-once) whose id is already
  *    committed SKIPS; a crash before the pointer write leaves an
  *    orphan version dir that the replay simply redoes — the committed
  *    state can never double-apply a delta ([[vacuumState]] sweeps
  *    orphans);
  *  - '''no read/maintain contention''': readers resolve the newest
  *    pointer and read immutable version dirs — a merge in flight is
  *    invisible until its pointer commit, exactly like lake readers vs
  *    maintenance.
  *
  * Single-writer by contract: one maintaining stream per statePath
  * (run more and the rename-into-place pointer commit collides loudly
  * — fail-fast, like the lake's writer lock, not silent corruption).
  * The pointer itself is crash-safe: written to a tmp name and renamed
  * in, sealed by a trailing `complete` sentinel, and a corrupt newest
  * pointer falls back to the previous one (the interrupted batch
  * replays).
  *
  * Usage:
  * {{{
  *   val feed = spark.readStream.format("graft-changes")
  *     .option("location", lakePath).option("dim", 64).load()
  *   val q = IncrementalAgg.maintain(
  *     feed, keys = Seq("shard"),
  *     aggs = Seq("rows" -> lit(1L), "doc_chars" -> length(col("document"))),
  *     statePath, checkpoint)
  *   // any time, any session:
  *   IncrementalAgg.readState(spark, statePath)   // (shard, rows, doc_chars)
  * }}}
  */
object IncrementalAgg {

  private val pointerRe = "_state\\.([0-9]+)\\.json".r

  /** Start the maintaining stream: foreachBatch over the change feed,
    * one [[applyDelta]] per micro-batch. `aggs` are per-row NUMERIC
    * expressions f named by their state column; each maintained column
    * is Σ f over live rows. Keys whose live row count reaches zero
    * leave the state. */
  def maintain(feed: DataFrame, keys: Seq[String],
      aggs: Seq[(String, Column)], statePath: String,
      checkpoint: String): StreamingQuery =
    writer(feed, keys, aggs, statePath, checkpoint).start()

  /** The configured writer (callers add trigger/queryName). */
  def writer(feed: DataFrame, keys: Seq[String],
      aggs: Seq[(String, Column)], statePath: String,
      checkpoint: String): DataStreamWriter[Row] =
    writerWithExtremes(feed, keys, aggs, Nil, Nil, null, statePath, checkpoint)

  /** One per-key MIN or MAX to maintain: state column `name` = extreme
    * of `expr` over the key's live rows. `expr` must reference only
    * stored columns (it is re-evaluated on the corpus when a key's
    * extreme row is deleted). */
  final case class ExtremeSpec(name: String, expr: Column, isMin: Boolean)

  /** [[maintain]] plus exact MIN/MAX columns (see object scaladoc for
    * the bounded-recompute contract). `corpus` supplies the live rows
    * to re-read a dirty key from — typically `() => lake.read()`. */
  def maintainWithExtremes(feed: DataFrame, keys: Seq[String],
      aggs: Seq[(String, Column)],
      mins: Seq[(String, Column)], maxs: Seq[(String, Column)],
      corpus: () => DataFrame, statePath: String,
      checkpoint: String): StreamingQuery =
    writerWithExtremes(feed, keys, aggs, mins, maxs, corpus,
      statePath, checkpoint).start()

  def writerWithExtremes(feed: DataFrame, keys: Seq[String],
      aggs: Seq[(String, Column)],
      mins: Seq[(String, Column)], maxs: Seq[(String, Column)],
      corpus: () => DataFrame, statePath: String,
      checkpoint: String): DataStreamWriter[Row] = {
    require(keys.nonEmpty, "IncrementalAgg needs at least one key column")
    require(aggs.nonEmpty || mins.nonEmpty || maxs.nonEmpty,
      "IncrementalAgg needs at least one aggregate")
    val extremes = mins.map(m => ExtremeSpec(m._1, m._2, isMin = true)) ++
      maxs.map(m => ExtremeSpec(m._1, m._2, isMin = false))
    require(extremes.isEmpty || corpus != null,
      "min/max maintenance needs a corpus supplier (() => lake.read()): " +
        "a deleted extreme row forces a bounded per-key re-read")
    val names = aggs.map(_._1) ++ extremes.map(_.name) ++ keys
    require(names.distinct.size == names.size,
      s"duplicate state column names in $names")
    val reserved = Set("__rows", "__bucket", "__sign")
    require(names.forall(n => !reserved(n) && !n.contains("__ins") &&
      !n.contains("__del") && !n.contains("__dirty") && !n.contains("__rec")),
      s"names ${reserved.mkString(", ")} and __ins/__del/__dirty/__rec " +
        "suffixes are reserved")
    feed.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyDelta(batch.sparkSession, statePath,
          signedDelta(batch, keys, aggs, extremes = extremes), keys,
          aggs.map(_._1), batchId, extremes, Option(corpus))
        ()
      }
  }

  /** The signed per-key delta of one change batch: every maintained
    * column as Σ f·sign, plus `__rows` (signed live-row count — the
    * key-liveness tracker) and `__bucket`. Pure plan, no action. */
  private[graft] def signedDelta(batch: DataFrame, keys: Seq[String],
      aggs: Seq[(String, Column)], buckets: Int = defaultBuckets,
      extremes: Seq[ExtremeSpec] = Nil): DataFrame = {
    val sign = when(col("change") === "insert", lit(1)).otherwise(lit(-1))
    val ins = col("change") === "insert"
    // per extreme: the batch's tightest INSERTED value (tightens the
    // stored extreme for free) and its tightest DELETED value (the
    // dirty-key detector — a deleted value touching the stored extreme
    // forces that key's bounded recompute)
    val extAggs = extremes.flatMap { x =>
      def side(p: Column) =
        if (x.isMin) min(when(p, x.expr)) else max(when(p, x.expr))
      Seq(side(ins).as(x.name + "__ins"), side(!ins).as(x.name + "__del"))
    }
    batch
      .withColumn("__sign", sign)
      .groupBy(keys.map(col): _*)
      .agg(
        sum(col("__sign").cast("long")).as("__rows"),
        (aggs.map { case (n, e) =>
          sum(e.cast("double") * col("__sign")).as(n) } ++ extAggs): _*)
      .withColumn("__bucket",
        pmod(xxhash64(keys.map(col): _*), lit(buckets)).cast("int"))
  }

  /** How many key-hash buckets partition the state. Fixed at state
    * creation by the first delta; 64 keeps per-batch rewrites small
    * while staying far under per-batch job-commit overhead at local
    * scale — at cluster scale raise it so one bucket ≈ one task. */
  val defaultBuckets = 64

  /** Merge one signed delta into the state under `statePath` as batch
    * `batchId` — the exactly-once commit: no-op if `batchId` is already
    * committed, otherwise write affected buckets to a fresh version dir
    * and commit the pointer. Driver-side control work is one pointer
    * read + one listing + one pointer write; data work touches only the
    * affected buckets' partitions. */
  private[graft] def applyDelta(spark: SparkSession, statePath: String,
      delta: DataFrame, keys: Seq[String], aggNames: Seq[String],
      batchId: Long, extremes: Seq[ExtremeSpec] = Nil,
      corpus: Option[() => DataFrame] = None): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(statePath)
    val ptr = currentPointer(fs, root)
    if (ptr.exists(_._2.batchId >= batchId)) return false // replayed batch
    val d = delta.cache()
    try {
      // affected buckets: bounded by the bucket count (≤ a few hundred
      // ints to the driver), never by key or row count
      val affected = d.select("__bucket").distinct()
        .collect().map(_.getInt(0)).toSet
      val owners = ptr.map(_._2.owners).getOrElse(Map.empty[Int, Long])
      if (affected.isEmpty) { // delta-free batch: commit the id only
        commitPointer(fs, root, owners, batchId)
        return true
      }
      val ownedAffected = owners.filter { case (b, _) => affected(b) }
      val merged = (
        if (ownedAffected.isEmpty) freshState(d, extremes)
        else merge(readBuckets(spark, statePath, ownedAffected), d, keys,
          aggNames, extremes)
      ).cache()
      try {
        // buckets whose merged content is EMPTY (every key deleted) must
        // leave the pointer — an owner entry for a bucket with no
        // written partition dir would break the next read
        val survivors = merged.select("__bucket").distinct()
          .collect().map(_.getInt(0)).toSet
        val newV = ptr.map(_._1 + 1).getOrElse(0L)
        val resolved = resolveDirtyExtremes(merged, keys, extremes, corpus)
        // cluster by bucket before the partitioned write: each task then
        // writes whole bucket files (ONE file per bucket) instead of
        // every shuffle task spraying a sliver into every bucket dir —
        // the same small-files rule the lake's own writeAppend applies
        resolved.repartition(col("__bucket"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("__bucket")
          .parquet(new org.apache.hadoop.fs.Path(root, s"v$newV").toString)
        commitPointer(fs, root, owners -- affected, batchId,
          survivors.map(_ -> newV).toMap)
      } finally { merged.unpersist(); () }
      true
    } finally { d.unpersist(); () }
  }

  /** First-ever state for a bucket set: delta-only, extremes taken
    * from the INSERT side; any delete in the same batch may have
    * removed information the state never held → dirty. */
  private def freshState(d: DataFrame, extremes: Seq[ExtremeSpec]): DataFrame = {
    val base = d.where(col("__rows") =!= 0L)
    extremes.foldLeft(base) { (df, x) =>
      df.withColumn(x.name, col(x.name + "__ins"))
        .withColumn(x.name + "__dirty", col(x.name + "__del").isNotNull)
        .drop(x.name + "__ins", x.name + "__del")
    }
  }

  /** Full-outer merge of current bucket state with the signed delta;
    * keys whose merged `__rows` is 0 leave the state. Extremes tighten
    * for free on the insert side (`least`/`greatest`); a delete that
    * touched the stored extreme marks the key `<name>__dirty` for the
    * bounded recompute in [[resolveDirtyExtremes]]. */
  private def merge(current: DataFrame, delta: DataFrame,
      keys: Seq[String], aggNames: Seq[String],
      extremes: Seq[ExtremeSpec] = Nil): DataFrame = {
    val cur = current.withColumnRenamed("__bucket", "__bucket_c")
    val sumCols = ("__rows" +: aggNames).map { n =>
      (coalesce(cur(n), lit(0)) + coalesce(delta(n), lit(0))).as(n) }
    val extCols = extremes.flatMap { x =>
      val provisional =
        if (x.isMin) least(cur(x.name), delta(x.name + "__ins"))
        else greatest(cur(x.name), delta(x.name + "__ins"))
      val touched =
        if (x.isMin) delta(x.name + "__del") <= cur(x.name)
        else delta(x.name + "__del") >= cur(x.name)
      val dirty = delta(x.name + "__del").isNotNull &&
        (cur(x.name).isNull || coalesce(touched, lit(true)))
      Seq(provisional.as(x.name), dirty.as(x.name + "__dirty"))
    }
    cur.join(delta, keys.map(k => cur(k) <=> delta(k)).reduce(_ && _), "full_outer")
      .select(
        keys.map(k => coalesce(delta(k), cur(k)).as(k)) ++
          sumCols ++ extCols :+
          coalesce(delta("__bucket"), cur("__bucket_c")).as("__bucket"): _*)
      .where(col("__rows") =!= 0L)
  }

  /** The BOUNDED per-key recompute closing the min/max gap: keys
    * flagged dirty (their deleted rows touched the stored extreme)
    * re-read their live rows from the corpus via a broadcast semi-join
    * on the dirty-key set — cost tracks dirty keys' corpus slice,
    * never total state or corpus size; a batch with no dirty keys
    * costs one cheap emptiness probe. Drops every helper column. */
  private def resolveDirtyExtremes(merged: DataFrame, keys: Seq[String],
      extremes: Seq[ExtremeSpec], corpus: Option[() => DataFrame]): DataFrame = {
    if (extremes.isEmpty) return merged
    val dirtyCond = extremes.map(x => coalesce(col(x.name + "__dirty"), lit(false)))
      .reduce(_ || _)
    val dirtyKeys = merged.where(dirtyCond).select(keys.map(col): _*).distinct()
    val cleaned =
      if (dirtyKeys.limit(1).count() == 0L) merged
      else {
        val corpusDf = corpus.getOrElse(throw new IllegalStateException(
          "min/max state has dirty keys but no corpus supplier — use " +
            "maintainWithExtremes")).apply()
        val rec = corpusDf
          .join(broadcast(dirtyKeys), keys, "left_semi")
          .groupBy(keys.map(col): _*)
          .agg(
            (if (extremes.head.isMin) min(extremes.head.expr)
             else max(extremes.head.expr)).as(extremes.head.name + "__rec"),
            extremes.tail.map(x =>
              (if (x.isMin) min(x.expr) else max(x.expr)).as(x.name + "__rec")): _*)
        val m = merged.alias("m"); val r = rec.alias("r")
        m.join(r, keys.map(k => m(k) <=> r(k)).reduce(_ && _), "left")
          .select(
            keys.map(k => m(k).as(k)) ++
              merged.columns.filterNot(c => keys.contains(c) ||
                c.endsWith("__dirty")).map(c =>
                extremes.find(_.name == c) match {
                  case Some(x) => when(coalesce(m(x.name + "__dirty"), lit(false)),
                    r(x.name + "__rec")).otherwise(m(c)).as(c)
                  case None => m(c).as(c)
                }): _*)
      }
    cleaned.drop(extremes.map(_.name + "__dirty"): _*)
  }

  /** The maintained aggregate table: key columns, each named aggregate,
    * and `__rows` (live rows per key). Resolves the newest pointer and
    * reads each bucket from its owning immutable version dir — safe
    * against a concurrent in-flight merge by construction. A
    * zero-column empty frame before the first data-carrying commit. */
  def readState(spark: SparkSession, statePath: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(statePath)
    currentPointer(fs, root).map(_._2.owners) match {
      case Some(owners) if owners.nonEmpty =>
        readBuckets(spark, statePath, owners).drop("__bucket")
      case _ =>
        spark.emptyDataFrame
    }
  }

  /** Union of the named buckets read from their owning version dirs,
    * grouped per version so each version contributes ONE multi-path
    * parquet scan (basePath keeps the `__bucket` partition column). */
  private def readBuckets(spark: SparkSession, statePath: String,
      owners: Map[Int, Long]): DataFrame = {
    val byVersion = owners.groupBy(_._2).toSeq.sortBy(_._1)
    val parts = byVersion.map { case (v, bs) =>
      val base = s"$statePath/v$v"
      spark.read.option("basePath", base)
        .parquet(bs.keys.toSeq.sorted.map(b => s"$base/__bucket=$b"): _*)
    }
    if (parts.isEmpty) spark.emptyDataFrame else parts.reduce(_ unionByName _)
  }

  /** Every pointer file still on disk, as (version, path), unsorted. */
  private def pointerFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq.flatMap(s => s.getPath.getName match {
      case pointerRe(v) => Some(v.toLong -> s.getPath)
      case _ => None
    })
  }

  /** A pointer file's committed (batch id, owners). The `complete`
    * sentinel is written LAST: a truncated pointer (torn copy+delete
    * rename, short write) lacks it and is REJECTED here instead of
    * decoding as a smaller-but-plausible owners map — which would
    * silently drop buckets' accumulated state. */
  private def pointerOf(ptr: ControlFiles.StatePointer): Pointer = {
    if (!ptr.complete || ptr.batchId.isEmpty)
      throw new ControlFiles.Unparseable(s"truncated state pointer $ptr", null)
    Pointer(ptr.batchId.get, ptr.owners)
  }

  /** Newest PARSEABLE pointer (version, parsed) still on disk. A
    * corrupt newest file (a crash mid-commit on a store whose rename is
    * copy+delete) falls back to the next older pointer, logged — the
    * state resumes from the last good commit and the interrupted batch
    * simply replays. No parseable pointer at all fails loudly. */
  private def currentPointer(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Option[(Long, Pointer)] =
    ControlFiles.newestParseable[ControlFiles.StatePointer, Pointer](fs,
      pointerFiles(fs, root), s"incremental state at $root")(pointerOf)

  private final case class Pointer(batchId: Long, owners: Map[Int, Long])

  /** Commit pointer version = prev+1, written to a uniquely-named tmp
    * and RENAMED into place — the create/write/close window can no
    * longer strand a half-written newest pointer (and even a torn
    * copy+delete rename is caught by the `complete` sentinel + the
    * older-pointer fallback in [[currentPointer]]). A rename that
    * refuses because the destination exists means another maintainer
    * committed this version — the single-writer contract is broken, and
    * it throws loudly instead of silently interleaving merges. */
  private def commitPointer(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      owners: Map[Int, Long], batchId: Long,
      reassigned: Map[Int, Long] = Map.empty): Unit = {
    fs.mkdirs(root)
    val pointer = ControlFiles.StatePointer(Some(batchId),
      scala.collection.immutable.TreeMap.from(owners ++ reassigned), complete = true)
    // allocate past the max pointer FILE, not the max parseable one: a
    // corrupt newest pointer (prev fell back behind it) must be stepped
    // over, not collided with on every commit forever
    val v = (pointerFiles(fs, root).map(_._1) :+ -1L).max + 1
    val tmp = new org.apache.hadoop.fs.Path(root,
      s"_state_tmp_${java.util.UUID.randomUUID()}")
    ControlFiles.write(fs, tmp, pointer, overwrite = false)
    val dst = new org.apache.hadoop.fs.Path(root, s"_state.$v.json")
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"state pointer $dst already exists: two maintainers are " +
          "committing to one statePath (the contract is single-writer)")
    }
    // keep a short pointer history (crash-window readers), sweep the rest
    pointerFiles(fs, root).foreach { case (old, p) =>
      if (old + 3 < v) { fs.delete(p, false); () }
    }
  }

  /** How long an unreferenced version dir ABOVE the newest committed
    * pointer must sit before [[vacuumState]] treats it as a crash
    * orphan rather than an in-flight merge. */
  val vacuumStaleMs: Long = 600000L

  /** Sweep state garbage: version dirs referenced by NO retained
    * pointer (superseded merges; crash orphans once provably dead),
    * pointer files older than the keep window, and stranded commit
    * tmps. Safe to run on a cadence from the maintaining process:
    *
    *  - dirs referenced by ANY retained pointer are kept, so a reader
    *    that resolved an older (still-retained) pointer never loses a
    *    dir mid-scan;
    *  - a dir numbered ABOVE the newest committed pointer may be an
    *    IN-FLIGHT merge — it is swept only once its mtime is older
    *    than `staleMs` (crash orphan), never while fresh.
    *
    * Returns items removed. */
  def vacuumState(spark: SparkSession, statePath: String,
      staleMs: Long = vacuumStaleMs): Long = {
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(statePath)
    val ptrs = pointerFiles(fs, root)
    if (ptrs.isEmpty) return 0L
    val newest = ptrs.map(_._1).max
    var removed = 0L
    // pointer files past the keep window (commitPointer's rotation may
    // have lagged if the maintainer stopped committing)
    ptrs.foreach { case (v, p) =>
      if (v + 3 < newest && fs.delete(p, false)) removed += 1L
    }
    val referenced: Set[Long] = pointerFiles(fs, root).flatMap { case (_, p) =>
      try pointerOf(ControlFiles.read[ControlFiles.StatePointer](fs, p)).owners.values
      catch { case scala.util.control.NonFatal(_) => Nil } // corrupt = refs nothing
    }.toSet
    val now = System.currentTimeMillis()
    fs.listStatus(root).foreach { s =>
      val n = s.getPath.getName
      val isVersionDir = s.isDirectory && n.startsWith("v") &&
        n.length > 1 && n.drop(1).forall(_.isDigit)
      val isStrandedTmp = s.isFile && n.startsWith("_state_tmp_") &&
        now - s.getModificationTime > staleMs
      if (isVersionDir) {
        val v = n.drop(1).toLong
        // AGE is the sole in-flight discriminator — deliberately NOT
        // `v > newest`: after a torn pointer commit the replaying merge
        // writes dir v = (newest parseable + 1), which can EQUAL the
        // corrupt file's number, and a number-gated check would let a
        // concurrently cadenced vacuum delete that fresh in-flight dir
        // before its pointer commits (the pointer would then reference
        // a missing dir and readState would fail). Any unreferenced
        // young dir survives until staleMs, referenced or not.
        val mayBeInFlight = now - s.getModificationTime <= staleMs
        if (!referenced(v) && !mayBeInFlight && fs.delete(s.getPath, true))
          removed += 1L
      } else if (isStrandedTmp && fs.delete(s.getPath, false)) removed += 1L
    }
    removed
  }
}
