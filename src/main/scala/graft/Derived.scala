package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}

/** A CO-LOCATED derived feature table: per-row features computed FROM a
  * [[Lake]] and stored in a sibling tree partitioned by the SAME LSH
  * shard values as the base rows they describe, so joining features back
  * to the corpus is a storage-partitioned join — ZERO exchange on either
  * side ([[Lake.joinDerived]]; DerivedSpec pins the plan). This is the
  * feature-store-next-to-corpus pattern a training-data pipeline needs
  * at 100 TB: quality scores, token counts, language IDs, PQ codes,
  * toxicity labels — computed once, stored WITHOUT duplicating the heavy
  * base columns (vectors, documents, binary assets), and joined back at
  * the cost of streaming co-located directory pairs instead of
  * re-hashing both tables across the wire.
  *
  * Layout mirrors the lake's generation-pointer commit, minus the parts
  * a projection does not need (no append gate — a derived table has ONE
  * writer verb, [[Lake.deriveTo]], and every write is a whole-snapshot
  * or per-shard-incremental rewrite):
  *
  * {{{
  * <root>/_derived.<v>.json      versioned sidecar, highest version wins,
  *                               each commit is ONE atomic create
  * <root>/gen-N/shard=K/         parquet feature rows for base shard K
  * }}}
  *
  * The sidecar records the base lake's identity (location + routing
  * fingerprint: dim, num_shards, lsh_seed, metric), the base SIDECAR
  * VERSION the features were computed at (a [[Lake.seal]] sync point —
  * the anchor [[Lake.deriveTo]]'s incremental refresh diffs from), the
  * pinned feature schema, and the live directory manifest. Old sidecar
  * versions are never rotated (they are O(shards) bytes each, one per
  * refresh — the audit trail is worth more than the bytes).
  *
  * INVARIANT the whole design rests on: a feature row lives in the same
  * shard directory as the base row it describes. [[Lake.deriveTo]]
  * enforces it by contract (the transform must pass `id` and `shard`
  * through untouched) plus a per-row range guard at write time; a
  * transform that re-keys rows to a wrong-but-in-range shard has broken
  * its contract and the join will under-serve those rows — the same
  * trust boundary as any bucketed table's bucket spec.
  *
  * Reads go through the `graft` DSv2 format (the sidecar is
  * self-describing, so `spark.read.format("graft").load(path)` serves a
  * derived table read-only with the pinned schema, partition pruning on
  * `shard`, and the same SPJ opt-in as a lake scan). Derived tables are
  * deliberately NOT lakes: no ingest, no vector column, no maintenance
  * surface — they are projections, and their one lifecycle verb is
  * "re-derive" (incremental at O(base churn), or full rebuild).
  */
final class DerivedTable private[graft] (
    val spark: SparkSession,
    val location: String,
    private[graft] val state: DerivedTable.State) {

  /** Qualified location of the base lake this table was derived from. */
  def baseLocation: String = state.baseLocation

  /** The base sidecar version (a seal sync point) the features reflect. */
  def baseVersion: Long = state.baseVersion

  /** Routing width the feature rows are co-located at. */
  def numShards: Int = state.numShards

  /** The pinned feature schema (stored columns, `shard` last). */
  def schema: StructType = StructType.fromDDL(state.schemaDdl)

  /** The feature rows, served through the `graft` DSv2 format (pinned
    * schema, partition pruning on `shard`). */
  def read(): DataFrame =
    spark.read.format("graft").load(location)

  /** Re-co-locate this table after its base was [[Lake.reshard]]ed:
    * re-keys the feature rows from the base's (id, shard) mapping and
    * recomputes `f` only over real base churn — O(feature bytes),
    * never O(recompute). See [[Lake.reshardDerived]]. */
  def reshardTo(base: Lake)(
      f: DataFrame => DataFrame): DerivedTable =
    base.reshardDerived(location)(f)

  /** Reclaim storage superseded by refreshes/rebuilds — see
    * [[DerivedTable.vacuum]]. */
  def vacuum(keepVersions: Int = 3,
      graceMs: Long = 15L * 60 * 1000): (Int, Int) =
    DerivedTable.vacuum(spark, location, keepVersions, graceMs)

  /** Whether the base lake's ROW SET may have changed since this table
    * was derived — appends, rewrites, retention. Pure seal commits
    * (including SIBLING feature tables' deriveTo refreshes) never move
    * rows and do not stale a table ([[Lake.rowSetUnchangedSince]]). A
    * stale derived table still joins correctly for the rows it has
    * ([[Lake.joinDerived]]'s `allowStale`), but rows changed since are
    * served as if absent. */
  def isStale(base: Lake): Boolean =
    !base.rowSetUnchangedSince(state.baseVersion)

  /** Fails unless `base` is the lake this table derives from, at the
    * routing width the feature rows are co-located at. A width mismatch
    * (the base was [[Lake.reshard]]ed since) is non-negotiable: feature
    * rows carry no vectors, so their shard cannot be re-derived — the
    * recovery is a full rebuild (`deriveTo(..., rebuild = true)`). */
  private[graft] def requireMatches(base: Lake, qualifiedBase: String): Unit = {
    require(state.baseLocation == qualifiedBase,
      s"derived table at $location was built from ${state.baseLocation}, " +
        s"not from $qualifiedBase")
    require(state.dim == base.cfg.dim && state.seed == base.cfg.seed &&
      state.metric == base.cfg.metric,
      s"derived table at $location was built under routing config " +
        s"(dim=${state.dim}, seed=${state.seed}, metric=${state.metric}) " +
        s"but the base lake resolves (dim=${base.cfg.dim}, " +
        s"seed=${base.cfg.seed}, metric=${base.cfg.metric})")
    require(state.numShards == (1 << base.cfg.numHashes),
      s"derived table at $location is co-located at ${state.numShards} " +
        s"shards but the base lake now routes ${1 << base.cfg.numHashes} " +
        "— the base was resharded since this table was derived, and " +
        "feature rows carry no vectors to re-derive their shard from; " +
        "re-key with reshardTo(base)(f) — O(feature bytes) — or " +
        "rebuild with deriveTo(location, rebuild = true)(f)")
  }
}

object DerivedTable {

  /** Parsed `_derived.<v>.json` contents. `live` entries are relative
    * directory paths of the form `gen-N/shard=K`. `liveFiles` is the
    * FILE-level manifest keyed by those same relative paths — recorded
    * at commit ([[commit]]) so format reads plan with zero per-directory
    * listings (the [[graft.Lake.LakeState.liveFiles]] posture; a
    * committed generation directory is immutable until vacuumDerived
    * retires its whole tree). Entries absent from the map fall back to
    * listing. */
  private[graft] final case class State(
      baseLocation: String,
      baseVersion: Long,
      dim: Int,
      numShards: Int,
      seed: Long,
      metric: String,
      generation: Long,
      live: Seq[String],
      schemaDdl: String,
      liveFiles: Map[String, Seq[Lake.LiveFile]] = Map.empty)

  /** Load an existing derived table, failing loudly if `location` holds
    * none (an empty dir, a lake, anything else). */
  def load(spark: SparkSession, location: String): DerivedTable =
    tryLoad(spark, location).getOrElse(throw new IllegalArgumentException(
      s"no derived-table sidecar (_derived.<v>.json) at $location — " +
        "is this a Lake.deriveTo target?"))

  private val log = org.slf4j.LoggerFactory.getLogger(DerivedTable.getClass)

  private[graft] def tryLoad(spark: SparkSession,
      location: String): Option[DerivedTable] = {
    val fs = fsOf(spark, location)
    val root = new Path(location)
    if (!fs.exists(root)) return None
    newestState(fs, location, listVersions(fs, root))
      .map(new DerivedTable(spark, location, _))
  }

  /** Newest PARSEABLE version's state, walked LAZILY newest-first (the
    * healthy hot path reads exactly one file): a crash between the
    * sidecar's exclusive create and its write leaves a torn/empty
    * newest file, which must not brick the table — the previous commit
    * is intact by construction (sidecars are immutable once written),
    * and the next deriveTo allocates PAST the torn version, healing
    * over it. ONLY an unparseable CONTENT counts as torn: a read
    * IOException (store hiccup on a perfectly good file) propagates
    * loudly — falling back there would silently serve a stale live
    * set. Each skip is logged; all-torn fails loudly. */
  private[graft] def newestState(fs: org.apache.hadoop.fs.FileSystem,
      location: String, versions: Seq[(Long, Path)]): Option[State] =
    ControlFiles.newestParseable[ControlFiles.DerivedSidecar, State](fs, versions,
      s"derived table at $location")(_.toState(location)).map(_._2)

  /** A sidecar version's state; an unparseable body (or one missing a
    * required field) throws [[ControlFiles.Unparseable]]. */
  private def readState(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      location: String): State =
    ControlFiles.read[ControlFiles.DerivedSidecar](fs, p).toState(location)

  /** `st` as its sidecar body. */
  private[graft] def render(st: State): String =
    ControlFiles.encode(ControlFiles.DerivedSidecar.of(st))

  /** Record each live directory's data files into the state at COMMIT
    * time ([[ControlFiles.recordFiles]], shared with the lake's commit):
    * lists already recorded by the state or the newest sidecar are
    * reused, new directories are listed once, here on the write path. */
  private def recordFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: Path, location: String,
      versions: Seq[(Long, Path)], st: State): State =
    st.copy(liveFiles = ControlFiles.recordFiles(st.live, st.liveFiles,
      versions.sortBy(-_._1).headOption.flatMap { case (_, p) =>
        try Some(readState(fs, p, location).liveFiles)
        catch { case scala.util.control.NonFatal(_) => None }
      }.getOrElse(Map.empty[String, Seq[Lake.LiveFile]])) { d =>
        fs.listStatus(new Path(root, d)).toSeq
          .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
            !s.getPath.getName.startsWith("."))
      }.toMap)

  /** Commit `st` as the next sidecar version — ONE atomic exclusive
    * create; a concurrent deriveTo to the same location loses the
    * create and fails loudly (derived tables have a single writer
    * verb, so a race is always a caller bug, not a coordination case
    * worth a lock file). The create is the writer lock's
    * ([[Lake.createIfAbsent]]); only a create that LOST to an existing
    * file maps to the concurrency error — any other IOException (quota,
    * permission, network) surfaces as itself. */
  private[graft] def commit(spark: SparkSession, location: String,
      st: State): Long = {
    val fs = fsOf(spark, location)
    val root = new Path(location)
    fs.mkdirs(root)
    val versions = listVersions(fs, root)
    val v = versions.map(_._1).foldLeft(0L)(math.max) + 1
    val p = new Path(root, s"_derived.$v.json")
    def lost(): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"derived commit at $location lost the version-$v create — a " +
          "concurrent deriveTo is writing the same location")
    val bytes = render(recordFiles(fs, root, location, versions, st))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    // exclusive create, If-None-Match where the store advertises it:
    // derived commits are deliberately lockless, arbitrated only by this
    // create, so two racing deriveTo commits can never both win a version
    if (!graft.Lake.createIfAbsent(fs, p, bytes)) lost()
    v
  }

  /** Reclaim DEAD derived storage: generation trees referenced by NONE
    * of the newest `keepVersions` sidecars (superseded by refreshes, or
    * orphaned by a rebuild/crash), plus sidecar versions older than the
    * kept window. The same retention trade as the lake's vacuum — a
    * reader that resolved paths from a now-retired sidecar loses its
    * files — bounded the same way: keep a window. Derived tables have
    * one writer verb, so serialize this with your deriveTo scheduler
    * (there is deliberately no lock file here). Even unserialized, a
    * racing deriveTo younger than `graceMs` is safe: its above-newest
    * staging tree and its just-created (still unparseable) newest
    * sidecar both survive the age gate. Returns (generation trees
    * deleted, sidecar versions deleted). */
  def vacuum(spark: SparkSession, location: String,
      keepVersions: Int = 3,
      graceMs: Long = 15L * 60 * 1000): (Int, Int) = {
    require(keepVersions >= 1, "keepVersions must be at least 1")
    val fs = fsOf(spark, location)
    val root = new Path(location)
    val versions = listVersions(fs, root).sortBy(-_._1)
    require(versions.nonEmpty,
      s"no derived-table sidecar at $location — nothing to vacuum")
    // torn tolerance mirrors tryLoad: an unparseable kept sidecar (the
    // crash debris heal-over deliberately leaves on disk) contributes
    // no live generations and is RETIRED like any dead version —
    // readers already cannot serve it, and without this the torn file
    // would brick reclamation for keepVersions refresh cycles.
    // EXCEPTION: the NEWEST listed version, when younger than graceMs
    // — a concurrent deriveTo's just-created sidecar is mid-write and
    // indistinguishable from torn debris until it ages; deleting it
    // would lose that commit. Old torn newest (a crash, not a racer)
    // still retires.
    val (kept0, dead0) = versions.splitAt(keepVersions)
    def tryParse(p: Path) =
      try Some(readState(fs, p, location))
      catch { case scala.util.control.NonFatal(_) => None }
    val attempts0 = kept0.map { case (v, p) => (v, p, tryParse(p)) }
    // liveness must anchor on a PARSEABLE commit. A keep window made
    // entirely of torn versions (keepVersions = 1 under a torn newest)
    // extends to the newest parseable sidecar — the one readers are
    // actually serving through the torn-newest fallback — instead of
    // refusing or, worse, anchoring on nothing
    val (attempts, dead) =
      if (attempts0.exists(_._3.isDefined)) (attempts0, dead0)
      else {
        val extra = dead0.map { case (v, p) => (v, p, tryParse(p)) }
        val idx = extra.indexWhere(_._3.isDefined)
        require(idx >= 0,
          s"derived vacuum at $location refused: no parseable sidecar " +
            "on disk — nothing safe to anchor liveness on")
        (attempts0 ++ extra.take(idx + 1), dead0.drop(idx + 1))
      }
    val newestListed = versions.head._1
    val graceCut = System.currentTimeMillis() - graceMs
    val (torn, tornInFlight) = attempts.collect {
      case (v, p, None) => (v, p)
    }.partition { case (v, p) =>
      v != newestListed || fs.getFileStatus(p).getModificationTime < graceCut
    }
    tornInFlight.foreach { case (v, _) =>
      log.warn(s"derived vacuum at $location: keeping unparseable NEWEST " +
        s"sidecar version $v — younger than the ${graceMs}ms grace age, " +
        "possibly a concurrent deriveTo mid-commit")
    }
    torn.foreach { case (v, _) =>
      log.warn(s"derived vacuum at $location: retiring unparseable " +
        s"sidecar version $v (torn commit debris)")
    }
    val parsedStates = attempts.collect { case (_, _, Some(st)) => st }
    require(parsedStates.nonEmpty,
      s"derived vacuum at $location refused: no parseable sidecar in " +
        "the keep window — nothing safe to anchor liveness on")
    val liveGens: Set[String] = parsedStates
      .flatMap(st => st.live.map(_.split("/").head) :+ s"gen-${st.generation}")
      .toSet
    // a gen tree ABOVE the newest kept sidecar's generation is a
    // concurrent deriveTo's in-flight staging (gen = newest+1, sidecar
    // not yet committed) — liveness judged from sidecars alone cannot
    // see it, so such trees are age-gated: young ones survive (the
    // racer will commit them), old ones are crash debris and reclaim
    // (the same posture as the lake's vacuumState above-newest gate)
    val maxKeptGen = parsedStates.map(_.generation).max
    val genRe = """gen-(\d+)""".r
    val deadTrees = fs.listStatus(root).toSeq.filter(s =>
      s.isDirectory && (s.getPath.getName match {
        case genRe(n) => !liveGens.contains(s.getPath.getName) &&
          (n.toLong <= maxKeptGen || s.getModificationTime < graceCut)
        case _ => false
      }))
    deadTrees.foreach(s => fs.delete(s.getPath, true))
    (dead ++ torn).foreach { case (_, p) => fs.delete(p, false) }
    (deadTrees.size, dead.size + torn.size)
  }

  private[graft] def fsOf(spark: SparkSession,
      location: String): org.apache.hadoop.fs.FileSystem =
    new Path(location).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def listVersions(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[(Long, Path)] =
    versionsIn(fs.listStatus(root).toSeq)

  private val versionRe = """_derived\.(\d+)\.json""".r

  /** (version, path) of every derived sidecar in a root listing. */
  private[graft] def versionsIn(entries: Seq[org.apache.hadoop.fs.FileStatus])
      : Seq[(Long, Path)] =
    entries.flatMap(s => s.getPath.getName match {
      case versionRe(v) if s.isFile => Some(v.toLong -> s.getPath)
      case _ => None
    })

  /** Shard value of a live manifest entry (`gen-N/shard=K` → K). */
  private[graft] def shardOf(rel: String): Int =
    rel.split("/").last.split("=", 2)(1).toInt
}
