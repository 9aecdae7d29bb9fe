package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.StreamSinkProvider
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex, PartitionPath, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.{Lake, LakeConfig}

/** The lake as a BATCH Spark SQL data source — the surface the most
  * common Spark consumer (a SQL-only user) actually has:
  *
  * {{{
  *   spark.read.format("graft").load("/lakes/corpus")       // current
  *   spark.read.format("graft").option("asOf", 7).load(p)   // time travel
  *   CREATE TABLE corpus USING graft LOCATION '/lakes/corpus'
  * }}}
  *
  * Both land on the SAME generation-aware scan as [[graft.Lake.read]]:
  * the table resolves the live directory set from one sidecar read
  * ([[graft.Lake.formatScan]] — manifest entries across generations,
  * the whole current generation by rule, legacy root data), then
  * DELEGATES scanning to Spark's own DSv2 parquet table over exactly
  * those directories. Delegation, not reimplementation, is the point:
  * partition pruning on the `shard` directories, filter pushdown to
  * parquet row groups, column pruning, and the vectorized reader all
  * come from the battle-tested parquet path — this source only decides
  * WHICH directories exist (and what partition value each carries),
  * which is the one thing plain `spark.read.parquet(root)` gets wrong
  * on this layout (it would read dead generations and retired files,
  * and its partition INFERENCE refuses the multi-generation tree as
  * "conflicting directory structures"). The partition spec is built
  * from the manifest, not inferred — the manifest already knows every
  * `(directory, shard)` pair, so the one partition column spans every
  * generation by construction.
  *
  * Config is self-describing: `dim`/`metric`/`numHashes`/`seed` are
  * recovered from the lake's own `_meta.<v>.json` sidecar, so
  * `.load(path)` needs zero options (explicit options override, same
  * names as `graft-changes`). `asOf` takes any sidecar version from
  * [[graft.Lake.history]]; a vacuumed version fails loudly.
  *
  * BATCH writes are supported and NEVER land raw parquet: `INSERT
  * INTO` / `writeTo(...).append()` / `df.write.format("graft")
  * .mode("append")` funnel through the identical `withDerived` +
  * sidecar-commit + append-gate path as [[graft.Lake.ingest]]
  * ([[GraftTable.newWriteBuilder]] — shard routing, uuid/timestamp
  * defaults, metadata coercion, evolve extras, concurrent-append
  * admission). STREAMING writes are supported
  * (`df.writeStream.format("graft")` → [[GraftSink]], exactly-once
  * via [[graft.Lake.ingestExactlyOnce]]'s batch ledger), because a
  * streaming write IS routed ingest — the sink runs the same derive +
  * sidecar-commit path as the Scala API. Streaming reads go through
  * the registered `graft-changes` source; together they close
  * the loop `readStream(graft-changes) → transform →
  * writeStream(graft)` without a line of Scala.
  *
  * ROW-LEVEL DML is supported: `UPDATE`, `MERGE INTO`, and subquery
  * `DELETE` plan as a delta-based row-level operation
  * ([[GraftRowLevelBuilder]] — staged O(changed rows), applied as one
  * keyed transactional rewrite); pushable plain `DELETE`s stay on the
  * metadata [[GraftTable.deleteWhere]] path, and `TRUNCATE` maps
  * there too. Catalog tables additionally serve `VERSION AS OF` /
  * `TIMESTAMP AS OF` ([[GraftCatalog.loadTable]]).
  *
  * 100 TB posture: table resolution is one sidecar read + one root
  * listing + O(live dirs) path construction — the same control-plane
  * cost as [[graft.Lake.read]] — and the data plane is the stock
  * parquet scan (per-file tasks, no driver materialization).
  *
  * Reference: the engine's SQL face; the reference has no SQL surface
  * at all (vector_lake exposes only the Python API, index.py).
  */
class GraftDataSource extends TableProvider with DataSourceRegister
    with StreamSinkProvider {
  import GraftDataSource._

  override def shortName(): String = "graft"

  /** `df.writeStream.format("graft")` — the v1 sink hook.
    * `DataStreamWriter` reaches it by fallback: [[GraftTable]] does not
    * declare STREAMING_WRITE, so the v2 path yields to `createV1Sink`
    * (the same route Delta's streaming sink takes, and for the same
    * reason — a lake commit is a driver-coordinated transaction, not
    * per-partition writer commits). Append mode only: a lake is
    * append-only through this surface (updates are [[graft.Lake.upsert]],
    * an explicit keyed API, not a silent stream semantics switch), and
    * partitioning is the lake's own shard routing, never the query's. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft sink supports Append output mode only, got $outputMode — " +
        "aggregating streams should write through " +
        "foreachBatch + Lake.upsert, which makes the update keys explicit")
    require(partitionColumns.isEmpty,
      "graft sink refuses partitionBy: the lake routes its own shard " +
        "partitioning (LSH or the configured partitionKey)")
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    val cfg = resolveConfig(sqlContext.sparkSession, opts)
    // sink identity = the query's checkpoint location (stable across
    // restarts, distinct across queries — the property the exactly-once
    // ledger needs); an explicit sinkId option overrides. The PATH is
    // NORMALIZED (qualified scheme + authority, dot-segments and
    // trailing slashes collapsed) before it becomes an identity: a
    // restart that respells the same checkpoint ("/cp/" vs "/cp",
    // relative vs absolute, file:/cp vs bare /cp) must map to the SAME
    // ledger — a respelling that started a fresh empty ledger would let
    // a head batch replayed after a crash in the addBatch→commit-log
    // window ingest twice. An explicit sinkId is a NAME, not a path,
    // and is used verbatim.
    val sinkId = opt(opts, "sinkId")
      .orElse(opt(opts, "checkpointLocation").map { raw =>
        val normalized = normalizeCheckpointId(sqlContext.sparkSession, raw)
        // MIGRATION: a query that committed batches under the
        // pre-normalization RAW spelling must keep that identity — a
        // respelled identity with an empty ledger would fail to
        // recognize the replayed head batch as committed and ingest it
        // twice. The normalized id wins whenever it has history (or
        // neither does — the fresh-query case); the raw id is adopted
        // only when it alone holds a ledger.
        if (normalized == raw) normalized
        else {
          val known = Lake(sqlContext.sparkSession, cfg)
            .sinksWithHistory(normalized, raw)
          if (!known(normalized) && known(raw)) raw else normalized
        }
      })
      .getOrElse {
        // the cluster-default conf resolves the REAL checkpoint path
        // (conf dir + query name) only AFTER createSink runs, and the
        // query name is not in these options either — so the sink
        // cannot derive a restart-stable identity from the conf alone;
        // guessing one risks two queries silently sharing a ledger.
        // Ask for it explicitly, naming the conf case.
        val confDefault = sqlContext.sparkSession.conf
          .getOption("spark.sql.streaming.checkpointLocation").isDefined
        throw new IllegalArgumentException(
          "graft sink needs .option(\"checkpointLocation\", ...) (or an " +
            "explicit .option(\"sinkId\", ...)): the exactly-once batch " +
            "ledger is keyed by it" +
            (if (confDefault)
              ". The spark.sql.streaming.checkpointLocation conf default " +
                "is set, but the per-query path it resolves to is not " +
                "visible here — pass .option(\"sinkId\", \"<stable name " +
                "unique to this query>\") when relying on the conf default"
            else ""))
      }
    new GraftSink(sqlContext.sparkSession, cfg, sinkId)
  }

  // schema comes from the lake itself (sidecar + footers), never from
  // CREATE TABLE column lists — a user-declared schema drifting from
  // the stored one would null-fill or misread silently
  override def supportsExternalMetadata(): Boolean = false

  // One resolution constructs the table up to THREE times through this
  // provider instance (inferSchema → inferPartitioning → getTable, same
  // options each time), and each construction pays the sidecar read +
  // root listing + footer-merge schema inference. The instance is
  // per-load (DataSource.lookupDataSource constructs a fresh provider),
  // so memoizing on the exact options map collapses the cost to one
  // resolution WITHOUT caching across queries — every new SELECT still
  // re-resolves the live set.
  @volatile private var memo: (Map[String, String], Table) = null

  private def tableFor(options: CaseInsensitiveStringMap): Table = {
    val key = options.asCaseSensitiveMap().asScala.toMap
    val m = memo
    if (m != null && m._1 == key) m._2
    else {
      val t = makeTable(options)
      memo = (key, t)
      t
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    tableFor(options).schema

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] =
    tableFor(options).partitioning()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    tableFor(new CaseInsensitiveStringMap(properties))
}

object GraftDataSource {
  /** The row-level DML metadata column ([[GraftTable.metadataColumns]]). */
  private[sources] val RidName = "_graft_rid"

  private def opt(o: CaseInsensitiveStringMap, key: String): Option[String] =
    Option(o.get(key)).filter(_.nonEmpty)

  /** Canonical spelling of a checkpoint path for ledger identity:
    * `Path` construction collapses duplicate separators and trailing
    * slashes, `makeQualified` pins the scheme + authority and resolves
    * a relative path against the FS working directory — so every
    * spelling of one checkpoint location hashes to one sink identity.
    * Falls back to the raw string if the path cannot be qualified (an
    * unregistered scheme): an unqualifiable path is at least
    * SELF-consistent across restarts. */
  private[graft] def normalizeCheckpointId(spark: SparkSession,
      raw: String): String =
    try {
      val p = new Path(raw)
      val u = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(p).toUri
      // rebuilt from components, not toUri.toString: a null vs EMPTY
      // authority ("file:/x" vs "file:///x") round-trips differently
      // through URI yet names the same location
      if (u.getScheme == null) u.getPath
      else s"${u.getScheme}://${Option(u.getAuthority).getOrElse("")}${u.getPath}"
    } catch { case scala.util.control.NonFatal(_) => raw }

  /** V1 source filter → Catalyst Column, for the `DELETE FROM`
    * surface ([[GraftTable.deleteWhere]]): None marks a predicate the
    * translation cannot express — `canDeleteWhere` then refuses the
    * whole DELETE (Spark raises the analysis error), never a partial
    * one. Covers the full algebra Spark pushes for flat columns;
    * map-typed (`metadata`) and nested predicates never arrive here as
    * source filters. */
  private[sources] def filterToColumn(
      f: org.apache.spark.sql.sources.Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.functions.{col, lit, not}
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toSeq.map(lit): _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(c) => filterToColumn(c).map(not)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  /** What one listing of a location's root resolved: the listing
    * itself and the newest parseable sidecar DECODED — a lake's
    * `_meta.<v>.json` (or the pre-v2 `_meta.json`) as `Right`, a
    * [[graft.DerivedTable]]'s `_derived.<v>.json` as `Left` (a lake
    * sidecar wins if both somehow exist — a lake location can never
    * legitimately grow a derived sidecar, and the lake is the
    * self-describing one). The provider cannot construct a Lake before
    * it knows `dim`, and the sidecar is where `dim` lives; every later
    * step of a table load reads this one decoded state.
    *
    * BOUNDED RETRY around the listing+read: a directory listing under
    * concurrent churn is not a snapshot — concurrent appends stamp and
    * rotate sidecar versions, and a `readdir` racing create/delete can
    * transiently MISS an entry that existed throughout (observed as a
    * spurious "no lake sidecar found" under two racing SQL writers),
    * or the listed max version can be rotated away before the read
    * opens it. At least one version file exists at every instant once
    * the lake exists, so a miss is transient by construction: re-list
    * a few times before concluding the lake has no sidecar. */
  private final case class RootState(entries: Seq[FileStatus],
      sidecar: Option[Either[graft.DerivedTable.State, Lake.LakeState]]) {
    def lake: Option[Lake.LakeState] = sidecar.flatMap(_.toOption)
  }

  private def rootSidecar(spark: SparkSession, location: String): RootState = {
    val root = new Path(location)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Left(listing) — retryable: the directory HAS entries but no
    // visible sidecar (the readdir-race signature: a lake with any
    // content always has one) or the listed newest version vanished
    // before the read; Right(answer) — a definitive yes/no (missing or
    // empty root = a genuinely fresh location, answered immediately so
    // the empty-lake bootstrap path never pays a retry).
    def attempt(): Either[Seq[FileStatus], RootState] = {
      if (!fs.exists(root)) return Right(RootState(Nil, None))
      val all = fs.listStatus(root).toSeq
      if (all.isEmpty) return Right(RootState(Nil, None))
      // LAKE-SHAPED data marks the race signature: a generation tree,
      // or root-level data (`key=value` dirs / bare parquet — an
      // adopted flat lake mid-sidecar-rotation looks exactly like
      // this). Pointing the format at a non-lake directory (a
      // checkpoint dir, a dataset's parent) still answers "no sidecar"
      // instantly instead of after three retry sleeps; a plain
      // partitioned parquet dataset pays the bounded retry once before
      // its clean refusal (same gating as Lake.listRoot's looksRacy)
      val hasGenDir = all.exists { s =>
        (s.isDirectory &&
          (graft.Lake.genDirRe.pattern.matcher(s.getPath.getName).matches() ||
            s.getPath.getName.contains("="))) ||
          (s.isFile && s.getPath.getName.endsWith(".parquet"))
      }
      val hasLake = Lake.metaVersionsFrom(all).nonEmpty ||
        all.exists(s => s.isFile && s.getPath.getName == "_meta.json")
      val derived = graft.DerivedTable.versionsIn(all)
      try {
        if (hasLake)
          Right(RootState(all, Some(Right(Lake.stateFromListing(fs, location, all)))))
        else if (derived.nonEmpty)
          Right(RootState(all, graft.DerivedTable.newestState(fs, location, derived)
            .map(Left(_))))
        else if (hasGenDir) Left(all)
        else Right(RootState(all, None))
      } catch {
        // rotated out between list and read — a rival committed a
        // newer version; re-list
        case _: java.io.FileNotFoundException => Left(all)
      }
    }
    var tries = 0
    while (true) {
      attempt() match {
        case Right(r) => return r
        case Left(all) if tries >= 3 => return RootState(all, None)
        case Left(_) =>
          tries += 1
          Thread.sleep(25L * tries)
      }
    }
    RootState(Nil, None)
  }

  /** One escaped `key=value` dir name (or None for unpartitioned
    * legacy files) → the partition column's INTERNAL value. Decoding
    * goes through [[graft.Lake.unescapePartitionValue]] — the ONE
    * hardened implementation (ASCII-nibble-validated, Hive null
    * sentinel aware) — so the format and the Scala read paths can
    * never decode the same directory name differently. */
  private[graft] def partValue(dirName: Option[String], dt: DataType): Any =
    dirName.map(_.split("=", 2)) match {
      case Some(Array(_, enc)) =>
        Lake.unescapePartitionValue(enc) match {
          case None => null // Hive default-partition sentinel
          case Some(v) => dt match {
            case IntegerType => java.lang.Integer.valueOf(v.toInt)
            case LongType => java.lang.Long.valueOf(v.toLong)
            case ShortType => java.lang.Short.valueOf(v.toShort)
            case StringType => UTF8String.fromString(v)
            case other => throw new IllegalArgumentException(
              s"graft format: unsupported partition key type ${other.simpleString}" +
                " — supported: int, bigint, smallint, string")
          }
        }
      case _ => null
    }

  /** Options + sidecar → the lake config, shared by the batch READ
    * path ([[makeTable]]) and the streaming SINK ([[GraftSink]]) so
    * the two surfaces can never resolve one lake differently. The
    * sidecar is authoritative for an existing lake; explicit options
    * override (and are REQUIRED — `dim` at least — to bootstrap a
    * brand-new lake through the sink). */
  private[graft] def resolveConfig(spark: SparkSession,
      options: CaseInsensitiveStringMap): LakeConfig = {
    val location = locationOf(options)
    resolveConfigWith(options, location, rootSidecar(spark, location).lake)
  }

  private def locationOf(options: CaseInsensitiveStringMap): String =
    opt(options, "path").orElse(opt(options, "location"))
      .getOrElse(throw new IllegalArgumentException(
        "graft format needs a path: spark.read.format(\"graft\").load(path) " +
          "or CREATE TABLE ... USING graft LOCATION '...'"))

  /** [[resolveConfig]] with the state already decoded — [[makeTable]]
    * resolves the root ONCE (lake or derived) and passes the lake
    * state through, so table resolution never pays a second read. */
  private def resolveConfigWith(options: CaseInsensitiveStringMap,
      location: String, st: Option[Lake.LakeState]): LakeConfig = {
    val sc = st.flatMap(_.config)
    val dim = opt(options, "dim").map(_.toInt)
      .orElse(sc.flatMap(_.dim).map(_.toInt))
      .getOrElse(throw new IllegalArgumentException(
        s"graft format at $location: no lake sidecar found and no 'dim' " +
          "option given — is this a graft lake location?"))
    // num_shards = 1 << numHashes for LSH-routed lakes; -1 marks a
    // user-keyed lake (partition key name not in the sidecar — pass
    // option 'partitionKey' if the lake is empty and the name matters)
    val sidecarShards = st.flatMap(_.sidecarShards)
    val userKeyed = sidecarShards.contains(-1L)
    val numHashes = opt(options, "numHashes").map(_.toInt)
      .orElse(sidecarShards.filter(_ > 0)
        .map(ns => java.lang.Long.numberOfTrailingZeros(ns)))
      .getOrElse(8)
    LakeConfig(
      location = location,
      dim = dim,
      numHashes = numHashes,
      metric = opt(options, "metric")
        .orElse(sc.flatMap(_.metric)).getOrElse("cosine"),
      seed = opt(options, "seed").map(_.toLong)
        .orElse(sc.flatMap(_.lshSeed)).getOrElse(42L),
      partitionKey = opt(options, "partitionKey")
        // the sidecar records the user partition key's NAME (round 10);
        // pre-recording sidecars fall back to the legacy "key" guess
        .orElse(sc.flatMap(_.partitionKey))
        .orElse(if (userKeyed) Some("key") else None),
      partitionKeyType = opt(options, "partitionKeyType")
        // the sidecar records the key's TYPE too (round 11): a
        // Scala-created IntegerType-keyed lake must not resolve
        // through SQL with the StringType default — the format scan
        // and DML would serve a string-typed key column diverging
        // from the Scala API's. Pre-recording sidecars keep the
        // default, same back-compat posture as partition_key.
        .orElse(sc.flatMap(_.partitionKeyType))
        .map(org.apache.spark.sql.types.DataType.fromDDL)
        .getOrElse(org.apache.spark.sql.types.StringType),
      packSignBits = opt(options, "packSignBits").map(_.toBoolean)
        .getOrElse(sc.exists(_.packSignBits)))
  }

  /** Resolve options + sidecar into the lake and its scan roots, and
    * wrap the stock DSv2 parquet table over them. Called once per
    * query resolution, so every SELECT sees the CURRENT live set (or
    * the pinned `asOf` snapshot). With `option("view", ...)` the same
    * format serves the lake's INTROSPECTION frames instead of rows —
    * the DESCRIBE HISTORY analog, queryable from pure SQL:
    *
    *  - `history`: one row per sidecar version ([[graft.Lake.history]])
    *  - `validate`: the one-row integrity audit ([[graft.Lake.validate]]
    *    — runs the audit scan at resolution, the cost the caller asked
    *    for)
    *  - `files`: the live data files with directory, generation, and
    *    size — the capacity-planning view ([[graft.Lake.filesView]]:
    *    sidecar-recorded directories cost no LIST)
    *
    * Views are driver-sized metadata served through a DSv2 `LocalScan`
    * (Catalyst folds it to a LocalRelation — no file scan planned). */
  private[sources] def makeTable(options: CaseInsensitiveStringMap): Table = {
    val spark = SparkSession.active
    val location = locationOf(options)
    val resolved = rootSidecar(spark, location)
    resolved.sidecar match {
      // a Lake.deriveTo feature table: read-only, pinned schema, SPJ
      // opt-in — the lake verbs (write, DML, views, time travel) have
      // no meaning over a projection
      case Some(Left(st)) =>
        // lake verbs must REFUSE here, not silently no-op: an ignored
        // asOf would serve the LATEST derived snapshot as if it were
        // the pinned one — the catalog already refuses time travel on
        // derived tables by name, and the format must agree with it
        Seq("asOf", "view").foreach(k => opt(options, k).foreach(v =>
          throw new UnsupportedOperationException(
            s"graft format at $location: '$k' ($v) has no meaning on a " +
              "derived feature table — a read-only projection with no " +
              "version history of its own (re-derive with Lake.deriveTo " +
              "instead)")))
        val pinned = StructType.fromDDL(st.schemaDdl)
        val partField = pinned.fields.last
        val roots = st.live.map(rel =>
          (s"$location/$rel", Some(rel.split("/").last)))
        // FILE-level manifest, keyed by the same root strings —
        // derived commits record their files (DerivedTable.commit), so
        // the scan plans with zero per-directory listings (guide §6)
        val fs = new Path(location).getFileSystem(spark.sparkContext.hadoopConfiguration)
        val rootFiles = st.liveFiles.map { case (rel, fl) =>
          val dir = fs.makeQualified(new Path(s"$location/$rel"))
          s"$location/$rel" -> fl.map(f =>
            GraftManifestFileIndex.status(dir, f.name, f.len, f.mod)) }
        return new GraftDerivedTable(s"graft-derived:$location", spark,
          options, roots, partField, pinned, rootFiles)
      case _ => ()
    }
    val cfg = resolveConfigWith(options, location, resolved.lake)
    val lake = Lake(spark, cfg)
    opt(options, "view").foreach { v =>
      val df = v match {
        case "history" => lake.history()
        case "validate" => lake.validate()
        case "files" => lake.filesView()
        case other => throw new IllegalArgumentException(
          s"graft format at $location: unknown view '$other' — " +
            "supported: history, validate, files")
      }
      return new GraftViewTable(s"graft:$location#$v", df)
    }
    val asOf = opt(options, "asOf").map(_.toLong)
    val scan = lake.formatScan(resolved.entries,
      resolved.lake.getOrElse(Lake.LakeState(1L, Nil)), asOf)
    val canonical = scan.schema
    val partField = canonical.fields.last
    new GraftTable(
      s"graft:$location" + asOf.map(v => s"@$v").getOrElse(""),
      spark, options, cfg, asOf, scan.roots, scan.rootFiles, partField,
      // the table's schema is PINNED to the sidecar-declared one
      // (stored columns + registered evolve() extras + partition col),
      // never footer-inferred: a column registered by evolve() but not
      // yet present in any file must still resolve (null-filled, the
      // Lake.read() contract), an empty lake must still serve SELECT *,
      // and resolution stays one sidecar read instead of an O(files)
      // footer-merge pass. A foreign column present in some file but
      // not registered is ignored by projection (the Delta posture:
      // the declared schema is the table); the Scala read() path keeps
      // its stricter footer-merge validation for drift hunting.
      Some(canonical))
  }
}

/** An introspection view as a DSv2 table: the already-computed frame's
  * rows served through `LocalScan`, which Catalyst folds to a
  * LocalRelation — driver-sized metadata, no file scan, no partitions.
  * Each query RESOLUTION recomputes the frame (the provider memo is
  * per-load), so `SELECT * FROM graft_history` always reflects the
  * current sidecar set. */
final class GraftViewTable(name0: String,
    df: org.apache.spark.sql.DataFrame)
  extends Table with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, LocalScan}

  override def name(): String = name0
  override def schema(): StructType = df.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = df.schema
        // executeCollect copies rows (unsafe-row buffers are reused
        // inside partition iterators — a raw toRdd.collect could alias)
        override def rows(): Array[InternalRow] =
          df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
            .queryExecution.executedPlan.executeCollect()
      }
    }
}

/** A [[graft.DerivedTable]] served through the format: the same
  * manifest-built partition spec, pinned schema, DPP wrapping, and SPJ
  * opt-in as a lake scan ([[GraftScanBuilder]]), READ-ONLY — a derived
  * table is a projection; its one lifecycle verb is
  * [[graft.Lake.deriveTo]] (re-derive), so the write/DML/catalog
  * surfaces have nothing correct to mean here. */
final class GraftDerivedTable(
    name0: String,
    spark: SparkSession,
    scanOpts: CaseInsensitiveStringMap,
    roots: Seq[(String, Option[String])],
    partField: StructField,
    pinned: StructType,
    rootFiles: Map[String, Seq[FileStatus]] = Map.empty)
  extends Table with SupportsRead {

  private val parquet = new GraftBackingTable(
    name0, spark, scanOpts, roots, partField, Some(pinned), rootFiles)

  override def name(): String = name0
  override def schema(): StructType = parquet.schema
  override def partitioning(): Array[Transform] = parquet.partitioning()
  override def properties(): JMap[String, String] = parquet.properties()
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder =
    parquet.newScanBuilder(options) match {
      case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder =>
        val spj = Option(options.get("spj")).map(_.toBoolean).getOrElse(
          org.apache.spark.sql.internal.SQLConf.get
            .getConfString("spark.graft.spj", "false").toBoolean)
        new GraftScanBuilder(p, partField, spj)
      case other => other
    }
}

/** The resolved table: the stock DSv2 parquet table over the live
  * directory set, with the partition spec built FROM THE MANIFEST
  * (one `PartitionPath` per live directory) instead of inferred from
  * paths — inference refuses the multi-generation tree, and the
  * manifest already knows every value.
  *
  * WRITABLE: `INSERT INTO`, `df.writeTo(...).append()`, and
  * `df.write.format("graft").mode("append")` all land as ONE routed
  * lake append — the write funnels through the IDENTICAL
  * `withDerived` + sidecar-commit + append-gate path as
  * [[graft.Lake.ingest]] (uuid/timestamp defaults, metadata coercion,
  * LSH shard routing, evolve extras, concurrent-append admission), so
  * a SQL-inserted row and a Scala-ingested row can never diverge. The
  * bridge is the public DSv2 `V1Write` escape hatch (the same one
  * Spark's own JDBC v2 writer uses): a lake commit is ONE
  * driver-coordinated transaction over the whole batch (shard
  * clustering exchange, staged publish, manifest stamp under the
  * append gate), not independent per-partition writer commits, so
  * handing the planned DataFrame to the existing transactional ingest
  * is the honest mapping — and it keeps exactly one write path to
  * test. Append only: OVERWRITE/truncate are refused by capability
  * (rewrites are the explicit keyed APIs — upsert/deleteWhere), and a
  * time-travel (`asOf`) table is read-only by definition. */
final class GraftTable(
    name0: String,
    spark: SparkSession,
    scanOpts: CaseInsensitiveStringMap,
    cfg: LakeConfig,
    asOf: Option[Long],
    roots: Seq[(String, Option[String])],
    rootFiles: Map[String, Seq[FileStatus]],
    partField: StructField,
    emptySchema: Option[StructType])
  extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  // COMPOSITION, not inheritance, over the stock DSv2 ParquetTable —
  // deliberately: Spark's FallBackFileSourceV2 analyzer rule rewrites
  // `INSERT INTO` any table that IS-A FileTable into a raw V1
  // HadoopFsRelation insert over the table's own fileIndex roots,
  // which here would land un-routed, un-derived parquet INSIDE a live
  // shard directory (bypassing newWriteBuilder entirely and corrupting
  // the layout). Wrapping the parquet table keeps its battle-tested
  // scan path — newScanBuilder delegates verbatim, so pushdown,
  // pruning, and the vectorized reader are unchanged — while keeping
  // this table out of every FileTable-specific rewrite rule.
  private val parquet = new GraftBackingTable(
    name0, spark, scanOpts, roots, partField, emptySchema, rootFiles)

  override def name(): String = name0
  override def schema(): StructType = parquet.schema
  override def partitioning(): Array[Transform] = parquet.partitioning()
  override def properties(): JMap[String, String] = parquet.properties()

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder =
    parquet.newScanBuilder(options) match {
      // wrap so joins can RUNTIME-prune shard directories (dynamic
      // partition pruning): stock DSv2 FileScan does not implement
      // SupportsRuntimeFiltering, so without this a broadcast join on
      // `shard` — the routed-kNN join shape — reads every live
      // directory. An unexpected builder shape stays stock (no
      // runtime pruning, never wrong).
      case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder =>
        // SPJ is an explicit per-read/per-session opt-in (option `spj`
        // overriding conf `spark.graft.spj`) — see GraftRuntimeScan
        val spj = Option(options.get("spj")).map(_.toBoolean).getOrElse(
          org.apache.spark.sql.internal.SQLConf.get
            .getConfString("spark.graft.spj", "false").toBoolean)
        new GraftScanBuilder(p, partField, spj)
      case other => other
    }

  override def capabilities(): java.util.Set[TableCapability] =
    if (asOf.isDefined)
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    else
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE)

  /** `DELETE FROM` / `TRUNCATE TABLE` in SQL — mapped onto
    * [[graft.Lake.deleteWhere]], the engine's transactional row-level
    * delete (per-shard rewrite of only the hit files, staged publish,
    * manifest commit — the SAME path the Scala API takes, so a SQL
    * DELETE can never bypass the layout). `canDeleteWhere` admits
    * exactly the predicates that translate to Catalyst columns; Spark
    * surfaces the rest as a clean "cannot delete by filter" analysis
    * error instead of a silent partial delete. TRUNCATE is the
    * `AlwaysTrue` delete through the identical path — old snapshots
    * stay time-travelable until vacuum, like any rewrite. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    asOf.isEmpty && filters.forall(f => GraftDataSource.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    if (asOf.isDefined) throw new UnsupportedOperationException(
      s"graft table $name0 is a time-travel snapshot (asOf=${asOf.get}) " +
        "— snapshots are read-only")
    val cond = filters.toSeq
      .map(f => GraftDataSource.filterToColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"graft table $name0: cannot delete by filter $f")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    Lake(SparkSession.active, cfg).deleteWhere(cond)
    ()
  }

  /** The row-level DML row id, served as a METADATA column: the
    * stored `id` under a non-nullable declaration. The data column
    * `id` is nullable BY SCHEMA (parquet + insert-UX: a column-list
    * INSERT omits it and the derive fills uuids) even though the
    * write path guarantees it is never null — and Spark refuses a
    * nullable rowId. The metadata twin carries the truthful
    * non-null declaration without touching the insert surface; the
    * scan serves it by duplicating the id column
    * ([[GraftRidScan]]), and `_graft_rid` is a reserved name
    * ([[graft.Lake.reservedDerivedCols]]), so a data column can
    * never shadow it. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftDataSource.RidName
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "non-null row identity (the stored id column) for row-level DML"
    })

  /** `UPDATE` / `MERGE INTO` / subquery `DELETE` — the delta-based
    * row-level operation ([[GraftRowLevelBuilder]] scaladoc): staged
    * O(changed rows) delta, applied as one keyed transactional rewrite
    * through [[graft.Lake.applyRowDelta]]. Pushable plain DELETEs stay
    * on the cheaper metadata path (Spark's own
    * OptimizeMetadataOnlyDeleteFromTable turns them back into
    * [[deleteWhere]] calls). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo): org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (asOf.isDefined) throw new UnsupportedOperationException(
      s"graft table $name0 is a time-travel snapshot (asOf=${asOf.get}) " +
        "— snapshots are read-only; run DML against the current table")
    new GraftRowLevelBuilder(name0, cfg, this, info)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (asOf.isDefined) throw new UnsupportedOperationException(
      s"graft table $name0 is a time-travel snapshot (asOf=${asOf.get}) " +
        "— snapshots are read-only; write to the current table instead")
    new WriteBuilder {
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              // unreachable through the planner (no truncate/overwrite
              // capability), kept as defense in depth: a silent
              // overwrite would drop the whole lake
              require(!overwrite,
                s"graft table $name0 does not support overwrite — " +
                  "appends only (use deleteWhere/upsert for rewrites)")
              Lake(SparkSession.active, cfg).ingest(data)
            }
          }
      }
    }
  }
}

/** The delegated-to parquet scan table (see [[GraftTable]]'s
  * composition note): the stock DSv2 `ParquetTable` over the live
  * directory set with the manifest-built partition spec. Private to
  * the wrapper — it must never surface as a plan's table, or the
  * FileTable insert-fallback rule would re-apply. */
private final class GraftBackingTable(
    name0: String,
    spark: SparkSession,
    scanOpts: CaseInsensitiveStringMap,
    roots: Seq[(String, Option[String])],
    partField: StructField,
    emptySchema: Option[StructType],
    rootFiles: Map[String, Seq[FileStatus]] = Map.empty)
  extends ParquetTable(name0, spark, scanOpts, roots.map(_._1).distinct,
    emptySchema, classOf[ParquetFileFormat]) {

  override lazy val fileIndex: PartitioningAwareFileIndex = {
    // FULLY QUALIFIED paths (scheme + authority): the index keys its
    // leaf-dir map by qualified path, so a raw `/tmp/...` partition
    // path would look up nothing and the scan would silently be empty
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    def qualify(s: String): Path = {
      val p = new Path(s)
      p.getFileSystem(hadoopConf).makeQualified(p)
    }
    val qualified = roots.map { case (p, d) => qualify(p) -> d }
    val spec = PartitionSpec(
      StructType(Seq(partField)),
      qualified.map { case (p, d) =>
        PartitionPath(
          InternalRow(GraftDataSource.partValue(d, partField.dataType)), p)
      })
    // FILE-level manifest fast path (guide §6 table formats): roots the
    // sidecar recorded at commit time are served straight from it —
    // zero listStatus against those directories; unrecorded roots (the
    // current generation tree, legacy data, pre-field sidecars) are
    // listed once, here, with the stock hidden-file rule. A listed root
    // holding a SUBDIRECTORY (nested legacy layout the recursive stock
    // index would descend into) drops the whole table back to the stock
    // index — the fast path must never misread a layout it does not
    // recognize. Missing-directory races resolve to empty, as the
    // stock index's bulk lister does.
    def stock(): PartitioningAwareFileIndex =
      new InMemoryFileIndex(spark, qualified.map(_._1).distinct,
        scanOpts.asScala.toMap, emptySchema,
        FileStatusCache.getOrCreate(spark), Some(spec), None)
    if (rootFiles.isEmpty) stock()
    else {
      object Nested extends Exception
      try {
        val byPath: Map[Path, String] =
          roots.map { case (s, _) => qualify(s) -> s }.toMap
        val dirFiles = qualified.map(_._1).distinct.map { q =>
          rootFiles.get(byPath(q)) match {
            case Some(fl) => q -> fl.toArray
            case None =>
              val listed =
                try q.getFileSystem(hadoopConf).listStatus(q)
                catch { case _: java.io.FileNotFoundException =>
                  Array.empty[org.apache.hadoop.fs.FileStatus] }
              if (listed.exists(_.isDirectory)) throw Nested
              q -> listed.filter(s => s.isFile &&
                !s.getPath.getName.startsWith("_") &&
                !s.getPath.getName.startsWith("."))
          }
        }
        new GraftManifestFileIndex(spark, spec, dirFiles)
      } catch { case Nested => stock() }
    }
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
}

/** The registered streaming SINK behind `writeStream.format("graft")`:
  * each micro-batch is one routed, sidecar-commit lake append, made
  * exactly-once by recording the batch in that same sidecar version
  * ([[graft.Lake.ingestExactlyOnce]], protocol scaladoc there). The
  * batch frame is pinned to its planned row RDD before ingest
  * ([[org.apache.spark.sql.GraftShims.asBatchFrame]])
  * — the v1 addBatch contract — and then flows through the IDENTICAL
  * derive + publish path as [[graft.Lake.ingest]], so batch and
  * streaming writers can never diverge on routing, metadata coercion,
  * or schema evolution extras. Fully distributed: the sink adds no
  * collect and no driver-side rows, and a batch makes the same root
  * requests as a plain append: the gate marker and one sidecar version.
  *
  * Reference: the reference has no streaming surface at all (SURVEY.md
  * §2.10); this is the engine's continuous-ingest face for SQL/PySpark
  * users, the write-side twin of the `graft-changes` source. */
final class GraftSink(spark: SparkSession, cfg: LakeConfig, sinkId: String)
  extends Sink {
  private val lake = Lake(spark, cfg)

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    lake.ingestExactlyOnce(
      org.apache.spark.sql.GraftShims.asBatchFrame(data), sinkId, batchId)
    ()
  }

  override def toString: String = s"GraftSink[${cfg.location}]"
}

/** The pushdown-preserving builder wrapper behind [[GraftTable]]'s
  * scans: every parquet pushdown surface (catalyst filters, column
  * pruning, aggregates, variant extractions) delegates verbatim, and
  * `build()` wraps the resulting scan in [[GraftRuntimeScan]] so the
  * format participates in DYNAMIC PARTITION PRUNING. Stock Spark's
  * DSv2 `FileScan` does not implement `SupportsRuntimeFiltering`
  * (only v1 `FileSourceScanExec` gets DPP), so without this wrapper a
  * `lake JOIN routed_queries ON shard` — the routed batch-kNN shape —
  * scans every live directory no matter how few shards the build side
  * holds. */
private final class GraftScanBuilder(
    delegate: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder,
    partField: StructField,
    spj: Boolean)
  extends org.apache.spark.sql.connector.read.ScanBuilder
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownVariantExtractions {

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    delegate.pushFilters(filters)

  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate.pushedFilters

  /** Whether the projection asked for the row-level DML metadata
    * column — served by [[GraftRidScan]] duplicating the id column. */
  private var ridRequested = false

  override def pruneColumns(requiredSchema: StructType): Unit = {
    ridRequested = requiredSchema.fieldNames.contains(GraftDataSource.RidName)
    if (!ridRequested) delegate.pruneColumns(requiredSchema)
    else {
      val base = StructType(
        requiredSchema.filterNot(_.name == GraftDataSource.RidName))
      // the rid is the id column under a non-null declaration — make
      // sure the parquet scan reads it even if the projection didn't
      delegate.pruneColumns(
        if (base.fieldNames.contains("id")) base
        else StructType(base.fields :+ StructField("id", StringType)))
    }
  }

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    delegate.pushAggregation(aggregation)

  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    delegate.supportCompletePushDown(aggregation)

  override def pushVariantExtractions(
      extractions: Array[org.apache.spark.sql.connector.read.VariantExtraction]): Array[Boolean] =
    delegate.pushVariantExtractions(extractions)

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    val inner = delegate.build() match {
      case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
        new GraftRuntimeScan(p, partField, spj)
      case other => other
    }
    if (ridRequested) new GraftRidScan(inner) else inner
  }
}

/** A DSv2 scan that joins can RUNTIME-prune: `filterAttributes`
  * exposes the partition column, and `filter()` folds the runtime
  * predicates (the DPP subquery's IN over the build side's join keys)
  * into the underlying `ParquetScan`'s partition filters — the
  * manifest-built file index then drops every non-matching shard
  * directory before a single task launches. Executed-plan effect:
  * `BatchScanExec` shows `RuntimeFilters: [dynamicpruning...]` and the
  * scan's input files shrink to the matching directories
  * (GraftFormatSpec pins both).
  *
  * Fail-safe by construction: a predicate shape this cannot translate
  * (anything but EqualTo/In on the partition column) prunes NOTHING —
  * the scan stays complete, never wrong. The `batch` handle resolves
  * the CURRENT scan at call time because `BatchScanExec`'s lazy batch
  * may materialize before `filter()` runs.
  *
  * STORAGE-PARTITIONED JOINS: when the read opts in (option
  * `spj=true`, or session conf `spark.graft.spj=true`), this scan
  * additionally reports `KeyGroupedPartitioning` over the shard
  * column and re-plans its file splits into ONE keyed partition per
  * live shard value (`HasPartitionKey`), so two shard-aligned
  * lakes — a source and its [[graft.Lake.cloneTo clone]]/
  * [[graft.Lake.syncFrom replica]], or any pair routed by the same
  * hyperplanes — join on `shard` (or on `shard` + row keys) with
  * ZERO shuffle on either side: at 100 TB that's the difference
  * between re-hashing both corpora across the wire and streaming
  * co-located directory pairs. The trade is intra-shard parallelism
  * (one task per shard — shard count already tracks data volume in
  * this engine), which is exactly why SPJ must be a graft-level
  * OPT-IN rather than keyed off Spark's own
  * `spark.sql.sources.v2.bucketing.enabled`: that conf defaults to
  * TRUE on this Spark line, and a scan that always reported
  * key-grouped partitioning would silently collapse every plain
  * format read to one-task-per-shard (the same reason Iceberg gates
  * grouped planning behind its own `preserve-data-grouping` flag).
  * SPJ mode disables this scan's runtime filtering
  * (`filterAttributes` → empty): the reported partitioning must stay
  * stable once EnsureRequirements planned the shuffle-free join, and
  * the co-partitioned join subsumes DPP's benefit. */
private[graft] final class GraftRuntimeScan(
    private val initial: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan,
    partField: StructField,
    spjRequested: Boolean)
  extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, Literal}

  @volatile private var current: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan = initial

  // captured once at build() time on the driver: partition planning
  // and the reported partitioning must agree for the plan's lifetime.
  // Spark's own v2-bucketing gate must also be on (default true on
  // this line) or the reported partitioning would be ignored while
  // the one-partition-per-shard re-plan still paid its cost.
  private val spjMode: Boolean = spjRequested &&
    org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled

  /** The CURRENT delegate (post-runtime-filter once filter() ran) —
    * what plan-shape specs inspect for file slices and pushdown. */
  private[graft] def underlying: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan = current

  override def readSchema(): StructType = current.readSchema()
  override def description(): String = current.description()
  override def toString: String = current.toString
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    current.estimateStatistics()
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    current.supportedCustomMetrics()
  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    current.reportDriverMetrics()
  override def columnarSupportMode(): org.apache.spark.sql.connector.read.Scan.ColumnarSupportMode =
    current.columnarSupportMode()

  /** SPJ re-plan: collapse the delegate's bin-packed splits (which
    * mix shard directories within one task) into one `FilePartition`
    * per shard key, each carrying its key for Spark's key-grouped
    * scheduling. Deterministically ordered so both join sides list
    * partition values identically. */
  private def keyedPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    val splits = current.toBatch.planInputPartitions()
    // a non-file partition shape means the delegate changed under
    // us — refuse SPJ (stock splits, Spark falls back to shuffling)
    // rather than mis-key rows
    if (!splits.forall(_.isInstanceOf[FilePartition])) splits
    else {
      val files = splits.collect { case f: FilePartition => f }.flatMap(_.files)
      files.groupBy(_.partitionValues.get(0, partField.dataType))
        .toArray
        // null-safe ordering: __HIVE_DEFAULT_PARTITION__ dirs and
        // legacy unpartitioned root files carry a NULL key —
        // `_._1.toString` would NPE the whole re-plan on them
        .sortBy(p => String.valueOf(p._1))
        .zipWithIndex
        .map { case ((_, fs), i) =>
          new KeyedFilePartition(i, fs, fs.head.partitionValues.copy())
        }
    }
  }

  private val batchHandle = new org.apache.spark.sql.connector.read.Batch {
    override def planInputPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] =
      if (spjMode) keyedPartitions() else current.toBatch.planInputPartitions()
    override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory =
      current.toBatch.createReaderFactory()
  }
  override def toBatch: org.apache.spark.sql.connector.read.Batch = batchHandle

  /** Advisory connector-side partitioning; Spark rebuilds the exact
    * catalyst `KeyGroupedPartitioning` from the keyed partitions
    * themselves, gated on the same v2-bucketing conf that set
    * [[spjMode]]. */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (spjMode)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions.identity(partField.name)),
        keyedPartitions().length)
    else
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        current.toBatch.planInputPartitions().length)

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // the partition column must be IN THIS SCAN'S OUTPUT to be a
    // runtime-filter key: Spark's PartitionPruning resolves the
    // advertised refs against the scan relation and THROWS (rather
    // than skips) on a miss, so a projection that drops `shard` (a
    // row-level DML probe join, any shard-less join) must advertise
    // nothing instead of crashing the whole statement
    if (spjMode || !readSchema().fieldNames.contains(partField.name))
      Array.empty
    else Array(org.apache.spark.sql.connector.expressions.Expressions.column(partField.name))

  override def filter(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    val attr = AttributeReference(partField.name, partField.dataType)()
    def lit(v: Any): Option[Literal] =
      try Some(Literal.create(v, partField.dataType))
      catch { case scala.util.control.NonFatal(_) => None }
    val exprs: Seq[Expression] = filters.toSeq.flatMap {
      case org.apache.spark.sql.sources.In(name, vs)
          if name.equalsIgnoreCase(partField.name) =>
        val ls = vs.toSeq.map(lit)
        if (ls.nonEmpty && ls.forall(_.isDefined))
          Some(org.apache.spark.sql.catalyst.expressions.In(attr, ls.flatten))
        else None
      case org.apache.spark.sql.sources.EqualTo(name, v)
          if name.equalsIgnoreCase(partField.name) =>
        lit(v).map(org.apache.spark.sql.catalyst.expressions.EqualTo(attr, _))
      case _ => None
    }
    if (exprs.nonEmpty)
      current = current.copy(partitionFilters = current.partitionFilters ++ exprs)
  }

  // scan equality drives exchange/scan reuse — keyed on the IMMUTABLE
  // inputs (the build-time delegate + spj mode), never on `current`:
  // filter() swaps `current` mid-planning, and a hashCode that changed
  // after the scan entered Spark's reuse maps would orphan the entry
  // (missed reuse / inconsistent equality). Runtime filters stay part
  // of plan identity anyway: BatchScanExec compares its own
  // `runtimeFilters` field, so two scans equal here but pruned
  // differently can never be conflated into one exchange.
  override def equals(o: Any): Boolean = o match {
    case g: GraftRuntimeScan => g.initial == initial && g.spjMode == spjMode
    case _ => false
  }
  override def hashCode(): Int = initial.hashCode() * 31 + (if (spjMode) 1 else 0)
}

/** A parquet file partition that knows its shard key — the unit of
  * storage-partitioned-join scheduling. Extends the stock
  * `FilePartition` so the delegate's `PartitionReaderFactory` (which
  * downcasts to `FilePartition`) reads it unchanged; adds
  * `HasPartitionKey` so Spark's key-grouped planning can line both
  * join sides' shards up task-for-task. */
private final class KeyedFilePartition(
    idx: Int,
    fs: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
    key: org.apache.spark.sql.catalyst.InternalRow)
  extends org.apache.spark.sql.execution.datasources.FilePartition(idx, fs)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
}
