package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.{Lake, LakeConfig}

/** The lake catalog: the FULL lifecycle from SQL, no Scala required.
  *
  * {{{
  *   spark.sql.catalog.lakes           = graft.sources.GraftCatalog
  *   spark.sql.catalog.lakes.warehouse = /data/lakes
  *
  *   CREATE TABLE lakes.default.corpus (vector array<float>, document string,
  *                                      label int)            -- extras evolve()d
  *     USING graft OPTIONS (dim '64', numHashes '6')
  *   INSERT INTO lakes.default.corpus (vector, document) VALUES ...
  *   ALTER TABLE lakes.default.corpus ADD COLUMNS (quality double)
  *   SELECT * FROM lakes.default.corpus
  *   SELECT * FROM lakes.default.corpus VERSION AS OF 3      -- readAt
  *   SELECT * FROM lakes.default.corpus TIMESTAMP AS OF '2026-08-01'
  *   DROP TABLE lakes.default.corpus
  * }}}
  *
  * Identifiers map to directories: `<warehouse>/<namespace...>/<name>`
  * is the lake root of a MANAGED table (created, owned, and on DROP
  * deleted by the catalog); `CREATE TABLE ... LOCATION '...'` makes an
  * EXTERNAL table — the catalog stores only a one-line pointer file
  * (`<name>.location` beside the managed position) and DROP removes
  * the pointer, never the lake. That is exactly Hive/Delta's
  * managed-vs-external contract, expressed in this layout's
  * sidecar-file idiom.
  *
  * Table resolution delegates to the SAME [[GraftDataSource.makeTable]]
  * the `USING graft` format uses, so a catalog read/write and a
  * path read/write can never resolve one lake differently — and every
  * write funnels through [[GraftTable.newWriteBuilder]] →
  * [[graft.Lake.ingest]] (routed, derived, sidecar-commit, append
  * gate).
  *
  * CREATE TABLE schema contract: the stored schema of a lake is the
  * engine's canonical one (id, vector, document, metadata, timestamp +
  * shard), so a user column list may name (a) canonical columns, to
  * document them — their types must match — and (b) NEW columns, which
  * are registered through [[graft.Lake.evolve]] exactly as the Scala
  * API would. `dim` is required (array<float> does not carry it);
  * partitioning clauses are refused — the lake routes its own shards.
  *
  * CTAS (`CREATE TABLE … AS SELECT`) writes BY POSITION, so the query
  * must project every canonical column (null-projected derived ones
  * take their defaults — uuid ids, routed shards — through the same
  * write path); a subset projection is refused by Spark's arity check
  * and the half-created table is cleaned up. The ergonomic spelling is
  * `CREATE TABLE` + `INSERT INTO t (cols…) SELECT …` (GraftCatalogSpec
  * pins all three shapes).
  *
  * 100 TB posture: the catalog is a pure control plane — every method
  * is O(1) sidecar/directory metadata (list/create/delete of root
  * files); no data job is ever launched by DDL. ALTER ADD COLUMNS is
  * the sidecar-commit evolve (no rewrite), DROP of a managed lake is
  * one recursive store delete.
  *
  * Reference: the reference has no catalog or SQL surface at all
  * (vector_lake/index.py exposes only the Python constructor); this is
  * the engine-native face a multi-tenant deployment needs. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {
  private var catalogName: String = _
  private var warehouse: Path = _

  private def spark: SparkSession = SparkSession.active
  private def fs =
    warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = Option(options.get("warehouse")).filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        s"graft catalog '$name' needs a warehouse root: set " +
          s"spark.sql.catalog.$name.warehouse=<dir>"))
    warehouse = new Path(w)
  }

  override def name(): String = catalogName

  // ------------------------------------------------------------ paths --

  private def nsPath(namespace: Array[String]): Path =
    namespace.foldLeft(warehouse)((p, n) => new Path(p, safe(n)))

  private def tablePath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace()), safe(ident.name()))

  private def pointerPath(ident: Identifier): Path =
    new Path(nsPath(ident.namespace()), safe(ident.name()) + ".location")

  /** Identifier segments become directory names — refuse separators and
    * traversal rather than escaping them (a catalog identifier that
    * needs escaping is an operational hazard in every external tool). */
  private def safe(seg: String): String = {
    require(seg.nonEmpty && !seg.contains("/") && !seg.contains("\\") &&
      seg != "." && seg != ".." && !seg.exists(_ < ' '),
      s"graft catalog: illegal identifier segment '$seg'")
    seg
  }

  /** The lake root a table identifier resolves to: the pointer file's
    * recorded location for EXTERNAL tables, the managed directory
    * otherwise (None = neither exists). */
  private def locationOf(ident: Identifier): Option[(String, Boolean)] = {
    val ptr = pointerPath(ident)
    if (fs.exists(ptr)) {
      val in = fs.open(ptr)
      val loc =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      Some((loc, false))
    } else {
      val dir = tablePath(ident)
      if (hasSidecar(dir)) Some((dir.toString, true)) else None
    }
  }

  /** A directory is a lake iff it holds a `_meta` sidecar (versioned or
    * pre-v2) — the same discovery rule as [[GraftDataSource]]. */
  private def hasSidecar(root: Path): Boolean =
    fs.exists(root) && (fs.exists(new Path(root, "_meta.json")) ||
      fs.listStatus(root).exists(s => s.isFile &&
        s.getPath.getName.matches("_meta\\.\\d+\\.json")))

  private def locationOrThrow(ident: Identifier): String =
    locationOf(ident).map(_._1).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident))

  // ----------------------------------------------------------- tables --

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace)
    if (!fs.exists(p)) throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchNamespaceException(Seq(catalogName) ++ namespace)
    fs.listStatus(p).flatMap { s =>
      val n = s.getPath.getName
      if (s.isFile && n.endsWith(".location"))
        Some(Identifier.of(namespace, n.stripSuffix(".location")))
      else if (s.isDirectory &&
          locationOf(Identifier.of(namespace, n)).isDefined)
        Some(Identifier.of(namespace, n))
      else None
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    try locationOf(ident).isDefined
    catch { case _: java.io.FileNotFoundException => false }

  override def loadTable(ident: Identifier): Table = {
    val loc = locationOrThrow(ident)
    GraftDataSource.makeTable(
      new CaseInsensitiveStringMap(Map("path" -> loc).asJava))
  }

  /** `SELECT … FROM t VERSION AS OF <v>` — the SQL face of
    * [[graft.Lake.readAt]]: any sidecar version still on disk serves
    * (listed by the `history` view); a vacuumed one fails loudly by
    * name, and the snapshot table is read-only — both inherited from
    * the format's own `asOf` option, which this delegates to. */
  /** Derived feature tables ([[graft.DerivedTable]]) are read-only
    * projections with no version history of their own — time travel
    * and ALTER must refuse BY NAME rather than fall through to lake
    * config resolution (whose "needs dim" bootstrap error would point
    * the user at the wrong recovery). */
  private def refuseDerived(loc: String, what: String): Unit =
    // a location holding BOTH sidecars (corrupt, but possible) resolves
    // as a LAKE in GraftDataSource.rootSidecar — the catalog must agree,
    // so the lake check gates the derived refusal here too
    if (!hasSidecar(new Path(loc)) &&
        graft.DerivedTable.tryLoad(spark, loc).isDefined)
      throw new UnsupportedOperationException(
        s"graft catalog: $loc is a derived feature table — a read-only " +
          s"projection of its base lake; $what has no meaning here " +
          "(re-derive with Lake.deriveTo instead)")

  override def loadTable(ident: Identifier, version: String): Table = {
    val loc = locationOrThrow(ident)
    refuseDerived(loc, "VERSION AS OF")
    val v =
      try java.lang.Long.parseLong(version)
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          "graft catalog: VERSION AS OF wants a numeric sidecar " +
            s"version (see the history view), got '$version'")
      }
    GraftDataSource.makeTable(new CaseInsensitiveStringMap(
      Map("path" -> loc, "asOf" -> v.toString).asJava))
  }

  /** `TIMESTAMP AS OF` — resolved to the NEWEST retained sidecar
    * version whose `last_update` stamp is at or before the requested
    * instant (Spark hands micros since epoch), then served exactly
    * like VERSION AS OF. An instant predating the oldest retained
    * version fails loudly instead of serving an empty guess — after a
    * vacuum that is the honest answer. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val loc = locationOrThrow(ident)
    refuseDerived(loc, "TIMESTAMP AS OF")
    val cut = java.time.Instant.EPOCH.plus(
      timestamp, java.time.temporal.ChronoUnit.MICROS)
    val cfg = GraftDataSource.resolveConfig(spark,
      new CaseInsensitiveStringMap(Map("path" -> loc).asJava))
    val stamped = Lake(spark, cfg).history()
      .select("version", "last_update").collect()
      .flatMap { r =>
        try Some(r.getLong(0) -> java.time.Instant.parse(r.getString(1)))
        catch { case _: RuntimeException => None } // pre-stamp sidecar
      }
    val at = stamped.filter { case (_, t) => !t.isAfter(cut) }
    require(at.nonEmpty,
      s"graft catalog: TIMESTAMP AS OF $cut predates $ident's oldest " +
        "retained version " +
        s"(${stamped.sortBy(_._1).headOption.fold("— no stamped history")(_._2.toString)})")
    loadTable(ident, at.maxBy(_._1)._1.toString)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    require(partitions.isEmpty,
      "graft catalog: PARTITIONED BY is refused — the lake routes its " +
        "own shard partitioning (LSH or the configured partitionKey)")
    if (tableExists(ident)) throw new org.apache.spark.sql.catalyst
      .analysis.TableAlreadyExistsException(ident)
    val props = properties.asScala
    def opt(k: String): Option[String] =
      props.get(k).orElse(props.get("option." + k)).filter(_.nonEmpty)
    val external = opt("location")
    val loc = external.getOrElse(tablePath(ident).toString)

    if (hasSidecar(new Path(loc))) {
      // ADOPT an existing lake (external registration): config comes
      // from its sidecar; a column list would be a second source of
      // schema truth and is refused. Checked BEFORE the derived probe
      // so a corrupt both-sidecars location is adopted as what reads
      // will actually serve — GraftDataSource.rootSidecar resolves
      // lake-over-derived, and DDL must agree with the read path
      require(schema.isEmpty,
        s"graft catalog: the location '$loc' already holds a lake — " +
          "register it without a column list (its sidecar is the " +
          "schema authority)")
    } else if (graft.DerivedTable.tryLoad(spark, loc).isDefined) {
      // ADOPT a Lake.deriveTo feature table (external registration,
      // read-only through SQL): its _derived sidecar is the schema
      // authority, and NOTHING may be written here — the lake
      // bootstrap below would stamp a _meta sidecar beside _derived
      // and corrupt the read surface (lake sidecars win resolution)
      require(external.isDefined,
        "graft catalog: a derived feature table cannot be catalog-" +
          "managed — it is owned by its base lake's deriveTo lifecycle; " +
          "register it with LOCATION")
      require(schema.isEmpty,
        s"graft catalog: the location '$loc' already holds a derived " +
          "feature table — register it without a column list (its " +
          "sidecar is the schema authority)")
    } else {
      val dim = opt("dim").map(_.toInt).getOrElse(
        throw new IllegalArgumentException(
          "graft catalog: CREATE TABLE needs OPTIONS (dim '<n>') — the " +
            "vector dimension is not expressible in array<float>"))
      val cfg = LakeConfig(
        location = loc,
        dim = dim,
        numHashes = opt("numHashes").map(_.toInt).getOrElse(8),
        metric = opt("metric").getOrElse("cosine"),
        seed = opt("seed").map(_.toLong).getOrElse(42L),
        partitionKey = opt("partitionKey"),
        packSignBits = opt("packSignBits").exists(_.toBoolean))
      val lake = Lake(spark, cfg)
      // canonical columns in the list just DOCUMENT the schema (types
      // must agree); new ones are evolve()d extras
      val canonical = lake.canonicalSchema
      val extras = schema.fields.filter { f =>
        canonical.find(_.name.equalsIgnoreCase(f.name)) match {
          case Some(c) =>
            require(c.dataType.catalogString
                .equalsIgnoreCase(f.dataType.catalogString),
              s"graft catalog: column `${f.name}` is a canonical lake " +
                s"column of type ${c.dataType.simpleString}; the declared " +
                s"${f.dataType.simpleString} conflicts")
            false
          case None => true
        }
      }
      // materialize the sidecar so the table exists even before its
      // first row (bootstrap = one empty-state commit)
      if (extras.nonEmpty) lake.evolve(StructType(extras.toSeq))
      else lake.bootstrap()
    }
    external.foreach { _ =>
      val ptr = pointerPath(ident)
      fs.mkdirs(ptr.getParent)
      val out = fs.create(ptr, false)
      try out.write(loc.getBytes("UTF-8")) finally out.close()
    }
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val loc = locationOrThrow(ident)
    refuseDerived(loc, "ALTER TABLE")
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    require(adds.size == changes.size,
      "graft catalog: only ALTER TABLE ... ADD COLUMNS is supported " +
        "(schema evolution is widening-only; drops/renames/type changes " +
        s"would need a rewrite). Got: ${changes.mkString(", ")}")
    val fields = adds.map { a =>
      require(a.fieldNames().length == 1,
        s"graft catalog: nested ADD COLUMNS (${a.fieldNames().mkString(".")}) " +
          "is not supported — extras are top-level columns")
      StructField(a.fieldNames().head, a.dataType())
    }
    val cfg = GraftDataSource.resolveConfig(spark,
      new CaseInsensitiveStringMap(Map("path" -> loc).asJava))
    Lake(spark, cfg).evolve(StructType(fields))
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    locationOf(ident) match {
      case None => false
      case Some((_, false)) => // external: forget the pointer, keep the lake
        fs.delete(pointerPath(ident), false)
      case Some((loc, true)) => // managed: the catalog owns the data
        fs.delete(new Path(loc), true)
    }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: RENAME is not supported — a managed lake's name is " +
        "its directory (concurrent readers resolve by path); register an " +
        "external table at the same location under the new name instead")

  // ------------------------------------------------------- procedures --

  /** Maintenance procedures live under the reserved `system` namespace
    * (`CALL <cat>.system.maintain(table => 'ns.name')` — the
    * Iceberg/Delta convention). The `table` argument resolves through
    * [[locationOf]] exactly like a SELECT would (managed dir, external
    * pointer, or — when it contains a `/` — a raw lake path), so a
    * procedure and a query can never disagree about which lake a name
    * means. */
  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    if (!ident.namespace().sameElements(Array("system")))
      throw new IllegalArgumentException(
        s"graft catalog: procedures live in the `system` namespace — " +
          s"CALL $catalogName.system.${ident.name()}(...); got namespace " +
          s"[${ident.namespace().mkString(".")}]")
    GraftProcedures.load(ident.name(), resolveLakeRef).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog: no procedure `${ident.name()}` — available: " +
          GraftProcedures.names.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.names
        .map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  /** A procedure's `table` argument → the Lake it names: a raw root
    * path when it contains a separator, otherwise `ns.name` / `name`
    * (default namespace) through the catalog's own resolution. Config
    * comes from the sidecar via the same [[GraftDataSource.resolveConfig]]
    * as every read — compressed lakes whose models are not sidecar-
    * reconstructible keep their documented SQL-surface refusals. */
  private def resolveLakeRef(ref: String): Lake = {
    val loc =
      if (ref.contains("/") || ref.contains("\\")) ref
      else {
        val parts = ref.split("\\.").toSeq
        val ident =
          if (parts.length == 1) Identifier.of(Array("default"), parts.head)
          else Identifier.of(parts.init.toArray, parts.last)
        locationOrThrow(ident)
      }
    Lake(spark, GraftDataSource.resolveConfig(spark,
      new CaseInsensitiveStringMap(Map("path" -> loc).asJava)))
  }

  // ------------------------------------------------------- namespaces --

  override def defaultNamespace(): Array[String] = Array("default")

  override def listNamespaces(): Array[Array[String]] = {
    if (!fs.exists(warehouse)) return Array.empty
    fs.listStatus(warehouse).collect {
      case s if s.isDirectory => Array(s.getPath.getName)
    }
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      val p = nsPath(namespace)
      if (!fs.exists(p)) throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(Seq(catalogName) ++ namespace)
      Array.empty // single-level namespaces: tables live directly inside
    }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || fs.exists(nsPath(namespace))

  override def loadNamespaceMetadata(
      namespace: Array[String]): JMap[String, String] = {
    if (!namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchNamespaceException(Seq(catalogName) ++ namespace)
    Map("location" -> nsPath(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = {
    namespace.foreach(safe)
    fs.mkdirs(nsPath(namespace))
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog: namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    val p = nsPath(namespace)
    if (!fs.exists(p)) return false
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw org.apache.spark.sql.catalyst.analysis
        .NonEmptyNamespaceException(namespace,
          "drop the tables first or use CASCADE", scala.None)
    fs.delete(p, true)
  }
}
