package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import graft.functions.{Lsh, VectorFunctions => V}

/** Engine configuration — the analog of the reference's `Index` fields
  * (/root/reference/vector_lake/core/index.py:431-448). Unlike the
  * reference, `metric` is actually honored (there it is declared but
  * never read — SURVEY.md §1.3).
  *
  * @param location   table root (local path or any Hadoop FS URI — s3a://
  *                   replaces the reference's hand-rolled S3Bucket tier,
  *                   index.py:344-428)
  * @param dim        embedding dimension (index.py:433)
  * @param numHashes  LSH hyperplane count → 2^numHashes shards; the
  *                   reference derives it as round(log2(approx_shards))
  *                   (index.py:454-455)
  * @param metric     "cosine" | "l2" | "dot" (index.py:436 intent)
  * @param partitionKey when Some(colName): user-controlled partitioning
  *                   instead of LSH — the reference's `Partition` subclass
  *                   (index.py:592-607)
  * @param partitionKeyType type of the user partition column — used only
  *                   for the empty-lake bootstrap schema, so read() on an
  *                   empty lake agrees with what ingest will later write
  *                   (the LSH `shard` column is always IntegerType)
  * @param packSignBits when true, ingest MATERIALIZES a `packed` long
  *                   column (sign bit per dimension, first 64 dims) so
  *                   compressed Hamming retrieval reads 8 stored bytes
  *                   per row instead of recomputing the pack from the
  *                   full vector — the 32× column-compression actually
  *                   lands as stored bytes; see [[Lake.topKCompressed]]
  * @param pqCodebooks when Some(model): ingest MATERIALIZES a `pq_code`
  *                   long column — every subspace code packed 8 bits
  *                   wide (so m ≤ 8, k ≤ 256) — and
  *                   [[Lake.topKPq]] runs its coarse ADC stage over
  *                   those 8 stored bytes per row. Train the model once
  *                   on a sample ([[graft.operators.Pq.train]]) and
  *                   construct every writer/reader with the SAME model:
  *                   codes are only meaningful under their codebooks —
  *                   ENFORCED via a codebook fingerprint in
  *                   `_meta.json`: ingest/topKPq under a model whose
  *                   fingerprint differs from the one that first wrote
  *                   the lake fails loudly.
  */
final case class LakeConfig(
    location: String,
    dim: Int,
    numHashes: Int = 8,
    metric: String = "cosine",
    seed: Long = 42L,
    partitionKey: Option[String] = None,
    partitionKeyType: DataType = StringType,
    codec: String = "snappy",
    packSignBits: Boolean = false,
    pqCodebooks: Option[graft.operators.Pq.PqModel] = None) {
  require(Set("cosine", "l2", "dot")(metric), s"unknown metric $metric")
  pqCodebooks.foreach { m =>
    require(m.m <= 8 && m.k <= 256,
      s"pq_code packs 8 codes × 8 bits into one long: need m <= 8 (got ${m.m}) and k <= 256 (got ${m.k})")
    require(m.m * m.subDim == dim,
      s"PQ model covers ${m.m}×${m.subDim} dims but the lake stores $dim")
  }
}

/** A sharded vector lake on partitioned Parquet.
  *
  * Data model (SURVEY.md §1.1): rows of
  * `(id, vector, metadata, document, timestamp)` + a derived `shard`
  * partition column. One DataFrame, `partitionBy("shard")` on write;
  * Catalyst partition pruning on a literal `shard = h(q)` predicate
  * replaces the reference's "load only the routed bucket"
  * (index.py:487-489). Writes are append-mode parquet (the reference
  * rewrites whole segment files on every sync, index.py:294-308 — append
  * is strictly better and is what scales).
  *
  * On-disk layout (v2, generation-pointer commit): partition
  * directories live under GENERATION subtrees `<root>/gen-N/shard=K/`,
  * and versioned sidecars `<root>/_meta.<v>.json` (highest version
  * wins; each write is an atomic create of a new version) name the
  * live set: the current generation — whose whole subtree is live, and
  * where appends land — plus a manifest of directories still live in
  * older generations. Every maintenance op (compact / deleteWhere /
  * upsert) WRITES A NEW GENERATION and commits with ONE sidecar
  * create; nothing on the data path is ever renamed or deleted, so the
  * layout is object-store-atomic where rename is copy+delete (the
  * design rename-based swaps cannot reach on S3-class storage). Dead
  * generations are swept only by the operator-invoked [[vacuum]].
  * Root-level siblings (`_pq`, `_ivf` model dirs, the `_lock` marker)
  * are untouched by any maintenance op by construction.
  */
final class Lake(spark: SparkSession, val cfg: LakeConfig) {
  import Lake._

  val lsh: Lsh = Lsh(cfg.dim, cfg.numHashes, cfg.seed)

  private def partCol: String = cfg.partitionKey.getOrElse("shard")

  /** Data columns as stored: canonical schema plus the optional
    * materialized `packed` sign-bit word and/or `pq_code` word. */
  private def storedCols: Seq[String] =
    dataCols ++ (if (cfg.packSignBits) Seq("packed") else Nil) ++
      (if (cfg.pqCodebooks.isDefined) Seq("pq_code") else Nil)

  private def storedFields: Seq[StructField] =
    schema.fields.toSeq ++
      (if (cfg.packSignBits) Seq(StructField("packed", LongType)) else Nil) ++
      (if (cfg.pqCodebooks.isDefined) Seq(StructField("pq_code", LongType)) else Nil)

  /** Registered EXTRA columns ([[evolve]]'s schema widening) of a
    * state, resolved from sidecar (name, catalog-DDL) pairs. */
  private def extraFieldsOf(st: LakeState): Seq[StructField] =
    st.extraCols.map { case (n, t) => StructField(n, DataType.fromDDL(t)) }

  /** The CURRENT extras, from the newest sidecar — for surfaces that
    * have no state in hand (feed schemas, the DSv2 format). */
  private[graft] def currentExtraFields: Seq[StructField] =
    extraFieldsOf(readState())

  private def storedColsOf(st: LakeState): Seq[String] =
    storedCols ++ st.extraCols.map(_._1)
  private def storedFieldsOf(st: LakeState): Seq[StructField] =
    storedFields ++ extraFieldsOf(st)

  /** SCHEMA EVOLUTION: widen the stored schema with `add` — at 100 TB
    * "add a column" must be a SIDECAR COMMIT, never a reload. The
    * registration rides every later sidecar (states are re-read before
    * each commit), so from this moment: [[ingest]] carries the columns
    * (supplied values cast to the registered type, absent → typed
    * null), every read pads pre-evolve files with nulls (parquet
    * null-fills a requested-but-absent column for post-evolve files
    * written by a stale session the same way), and every rewrite
    * ([[deleteWhere]]/[[upsert]]/[[compact]]) preserves them. Types
    * are stored as catalog DDL (`string`, `double`, `array<int>`, …).
    * Name collisions with stored/partition/registered columns are
    * refused — this is WIDENING only; drops or type changes would need
    * a rewrite and are deliberately not offered. [[validate]] reports
    * `pre_evolve_rows` (rows all-null across every registered extra) so
    * operators can see how much of the lake predates the evolution.
    * The reference pins its frame schema for the index's life
    * (index.py:249-250); evolution is an engine extension. */
  /** Materialize the sidecar for a brand-new lake WITHOUT ingesting a
    * row — the `CREATE TABLE` bootstrap ([[graft.sources.GraftCatalog]]):
    * one state commit makes the empty lake discoverable (the sidecar
    * records dim/metric/routing config, so later sessions and the SQL
    * format resolve it with zero options). Idempotent on an existing
    * lake (a plain `last_update` re-stamp). */
  def bootstrap(): Unit = withWriterLock("bootstrap") {
    // bootstrap IS the documented config-UPGRADE migration (re-stamping
    // a pre-recording lake whose files genuinely carry the compressed
    // columns), so only the LESSER direction is refused here: a
    // session whose config lacks a compression the sidecar declares
    // would erase the flag from the re-stamped sidecar, and every
    // later lesser-config write would then pass [[requireWriteConfigMatch]]
    // and strip the columns for real.
    val st = readState()
    requireRouting(st) // the re-stamp records this session's dim and seed
    requireNoLesserConfig(st)
    writeState(st); ()
  }

  def evolve(add: StructType): Unit = {
    require(add.fields.nonEmpty, "evolve: no columns given")
    withWriterLock("evolve") {
      // evolve re-stamps the sidecar from THIS session's config: under
      // a mismatched one it would silently flip the recorded
      // compression flags (same hazard as any write)
      val (fs, entries, st) = resolveState()
      requireRouting(st) // ... and its dim and LSH seed
      requireWriteConfigMatch(fs, entries, st)
      validateExtraCols(st, add.fields.toSeq, "evolve")
      writeState(st.copy(extraCols =
        st.extraCols ++ add.fields.map(f => f.name -> f.dataType.catalogString)))
      ()
    }
  }

  /** The ONE validation for registering extra stored columns — shared
    * by [[evolve]] and [[applyChanges]]'s auto-evolve, so a buggy or
    * hostile delta frame cannot register a column name that evolve()
    * itself would refuse. CASE-INSENSITIVE checks throughout: Spark's
    * resolver matches columns case-insensitively by default, so a
    * "Dist" extra would still be clobbered by topK's
    * withColumn("dist", ...) and a "Document" extra would collide with
    * the stored column. */
  private def validateExtraCols(st: LakeState, fields: Seq[StructField],
      tag: String): Unit = {
    val dup = fields.map(_.name).groupBy(identity)
      .collect { case (n, xs) if xs.size > 1 => n }
    require(dup.isEmpty,
      s"$tag: duplicate column name(s) ${dup.mkString(", ")}")
    val taken = (storedColsOf(st) :+ partCol).map(_.toLowerCase).toSet
    fields.foreach { f =>
      val lower = f.name.toLowerCase
      require(!taken(lower),
        s"$tag at ${cfg.location}: column `${f.name}` already exists")
      // names the query surfaces DERIVE onto result frames
      // ("change" on the feed, "dist" on kNN, "packed"/"pq_code" on
      // compressed lakes) or use as rewrite-plan internals — an extra
      // with one of these names would be silently clobbered by
      // withColumn or corrupt a join key, not served back
      require(!Lake.reservedDerivedCols(lower) &&
          lower != (partCol + "_s").toLowerCase,
        s"$tag at ${cfg.location}: column name `${f.name}` is " +
          "reserved by a query or maintenance surface (derived " +
          "outputs: change, dist, packed, pq_code; plan internals) — " +
          "pick another name")
      require(!f.name.contains("\u0001"),
        s"$tag: column name `${f.name}` contains the reserved \\u0001")
      // the DDL must round-trip: an unparseable registration would
      // poison every later read
      DataType.fromDDL(f.dataType.catalogString)
    }
  }

  /** Ingest rows with at least a `vector` column; `metadata`, `document`
    * optional. Adds `id` (uuid), `timestamp`, routes `shard`, coerces
    * empty metadata to {"id": "1"} (the reference's quirk,
    * index.py:572-575 — an ingest rule, not a query rule), and
    * append-writes partitioned parquet.
    *
    * Scale: routing is a map-side expression; the only shuffle is the
    * cluster-by-shard exchange before the write, which keeps file count
    * = O(shards) instead of O(tasks × shards). CONCURRENT ingests are
    * admitted (shared gate, [[withAppendLock]]) — N parallel loaders
    * land disjoint files in the live tree and scale with the cluster;
    * only maintenance excludes them. A built skip index is refreshed
    * for exactly the shards this batch touched, so appends no longer
    * stale-out their shards' sketches until the next rebuild. */
  def ingest(rows: DataFrame): Unit = withAppendLock("ingest") {
    val (fs, entries, st) = resolveState()
    requireWriteConfigMatch(fs, entries, st)
    writeAppend(fs, st, withDerived(rows, st)).foreach(out =>
      refreshSkipIndex(out.state, out.shards))
  }

  /** EXACTLY-ONCE ingest for the registered streaming SINK
    * (`df.writeStream.format("graft")`, [[graft.sources.GraftSink]]):
    * [[ingest]] semantics plus idempotent micro-batch replay. Returns
    * false when the batch was already committed (the replay no-op).
    *
    * Structured Streaming guarantees a replayed micro-batch carries
    * the SAME `batchId` with the SAME data, so exactly-once reduces to
    * idempotent commit. The batch commits inside the append's own
    * sidecar version: the version that names the batch's files also
    * records `batchId` as this sink's head ([[LakeState.sinks]]), the
    * way Delta's streaming sink records its `(appId, version)` as a
    * `txn` action in the same log commit. So the batch is visible
    * exactly when it counts as committed. A crash before that version
    * leaves files no sidecar names: invisible to every read, swept by
    * [[vacuum]], and the replay writes the batch again. Two attempts of
    * one batch (a zombie driver racing its replacement) both write;
    * [[commitAppend]] re-reads the newest state before each version
    * create, and an attempt that finds the batch already recorded
    * there commits nothing and returns false.
    *
    * The head is the larger of the state's and, for lakes a sink
    * committed to before the head moved into the sidecar, the newest
    * legacy ledger name in the root listing ([[sinkHead]]). */
  private[graft] def ingestExactlyOnce(rows: DataFrame, sinkId: String,
      batchId: Long): Boolean = withAppendLock("sink-batch") {
    val (fs, entries, st) = resolveState()
    val idHex = Lake.sinkIdHex(sinkId)
    val head = sinkHead(entries, st, idHex)
    // a LEGITIMATE replay only ever re-delivers the head (the
    // micro-batch commit log lags addBatch by at most one batch). A
    // batch id BELOW the head means the query's checkpoint restarted
    // from scratch against a lake that remembers more — the classic
    // wiped-checkpoint-same-location accident — and skipping would
    // silently drop every batch until the count catches up: refuse.
    require(!head.exists(batchId < _),
      s"graft sink at ${cfg.location}: ledger for sink '$sinkId' has " +
        s"committed batch ${head.get} but the query delivered batch " +
        s"$batchId — a reset/wiped checkpoint is reusing this sink " +
        "identity. Restore the original checkpoint, or pass a fresh " +
        ".option(\"sinkId\", ...) to ingest as a new sink.")
    if (head.contains(batchId)) false
    else {
      requireWriteConfigMatch(fs, entries, st)
      // a newest version that did not decode may be this sink's own torn
      // commit of the batch, or a rival attempt's still landing: the
      // state served past it lists the current tree, its files included,
      // without recording the batch — a replay would land it twice
      val newest = latestVersion(entries)
      if (newest > st.version) throw new java.util.ConcurrentModificationException(
        s"sink batch $batchId at ${cfg.location} refused: the newest " +
          s"sidecar version _meta.$newest.json does not decode (a torn " +
          "commit, or a rival's still landing: retry), and it may be this " +
          "sink's commit of the batch. If it stays torn, delete it: the " +
          "files it named become unnamed, the replay lands the batch once " +
          "and vacuum deletes them.")
      // a pend marker an earlier sink version left for THIS batch: that
      // attempt crashed mid-batch, and its files may already be named by
      // a sidecar with no ledger entry — replaying over them would
      // duplicate rows
      val batchHex = java.lang.Long.toHexString(batchId)
      val pends = entries.map(_.getPath.getName).filter(n =>
        n.startsWith(s"_append.$idHex-$batchHex-") && n.endsWith(".lock"))
      if (pends.nonEmpty) throw new IllegalStateException(
        s"sink batch $batchId at ${cfg.location} refused: pend marker " +
          s"${pends.mkString(", ")} is left by a crashed attempt of this " +
          "batch under the earlier ledger protocol. Its files (named " +
          s"`sink-$idHex-$batchHex-…`) may already be committed without " +
          "a ledger entry, and replaying over them would duplicate rows. " +
          "If filesView() lists no file with that prefix, clear the " +
          "marker (repair()) and restart the query; if it does, the " +
          "batch is already in the lake: remove those rows first.")
      val out = writeAppend(fs, st, withDerived(rows, st),
        sinkBatch = Some(idHex -> batchId))
      out.foreach(o => refreshSkipIndex(o.state, o.shards))
      out.isDefined
    }
  }

  /** Which of `sinkIds` have committed a batch to this lake, from one
    * state read — the migration probe
    * [[graft.sources.GraftDataSource.createSink]] uses to keep a
    * pre-normalization checkpoint spelling bound to its history (a
    * respelled identity with no history would re-ingest the replayed
    * head batch). */
  private[graft] def sinksWithHistory(sinkIds: String*): Set[String] = {
    val (_, entries, st) = resolveState()
    sinkIds.filter(id => sinkHead(entries, st, Lake.sinkIdHex(id)).isDefined).toSet
  }

  /** Whether this sink id has committed a batch to this lake. */
  private[graft] def hasSinkLedger(sinkId: String): Boolean =
    sinksWithHistory(sinkId).nonEmpty

  /** Newest committed batch of sink `idHex`: the larger of the head
    * `st` records and the newest legacy `_sink.<id>.<batch>.json`
    * ledger NAME in the root listing `entries` (written by sinks before
    * the head moved into the sidecar; only the name is read). */
  private def sinkHead(entries: Seq[org.apache.hadoop.fs.FileStatus],
      st: LakeState, idHex: String): Option[Long] = {
    val legacy = ("_sink\\." + java.util.regex.Pattern.quote(idHex) +
      "\\.(\\d+)\\.json").r
    (st.sinks.get(idHex) ++ entries.flatMap(s => s.getPath.getName match {
      case legacy(b) if s.isFile => Some(b.toLong)
      case _ => None
    })).maxOption
  }

  /** Fail-fast EXCLUSIVE gate for the structure-mutating ops
    * ([[deleteWhere]], [[upsert]], [[compact]], [[vacuum]], [[seal]],
    * stream-start): a marker-file create (`FileSystem.create` with
    * overwrite=false — atomic on HDFS/POSIX) of `_lock` under the lake
    * root, released in finally. Plain [[ingest]] appends do NOT take
    * this lock — they hold a SHARED marker ([[withAppendLock]]) so N
    * parallel loaders scale instead of serializing on one marker file;
    * after verifying its own token, the exclusive side refuses while
    * any shared marker is present (an append is writing into the very
    * tree a rewrite would retire). A concurrent mutation THROWS
    * `ConcurrentModificationException` instead of silently losing the
    * race — two maintenance commits interleaving would lose one side's
    * manifest update. The reference's posture is last-persist-wins
    * (index.py:294-308).
    *
    * Object-store posture: where the store advertises CONDITIONAL
    * CREATE (s3a on Hadoop 3.4.x+, probed per path — see
    * [[Lake.conditionalCreateKey]]), acquisition is an If-None-Match
    * PUT that the store itself arbitrates at close(): the gate is
    * EXACT, same as HDFS/POSIX. On plain-PUT stores without it, the
    * lock body carries a per-acquisition HOLDER TOKEN, and after
    * writing, the writer READS THE LOCK BACK — if another writer's PUT
    * landed over ours, the token mismatches and we abort without
    * touching the lock (release also only deletes when the stored
    * token is still ours). Together with the exists() pre-check this
    * narrows the unguarded HEAD-then-PUT window to the few
    * milliseconds between a writer's own PUT and its read-back; two
    * writers whose PUT+verify fully interleave inside that window can
    * both proceed — on such stores, upgrade to a client or endpoint
    * with conditional writes for the exact gate.
    *
    * Underscore-prefixed files are invisible to Spark's file index, so
    * readers never see the lock. A crashed writer (JVM death skips
    * finally) strands the lock and every later mutation fails loudly:
    * inspect, then [[repair]] (or `vacuum(force = true)`, which
    * refuses locks younger than `lockMaxAgeMs`) to recover. */
  private[graft] def withWriterLock[T](op: String)(body: => T): T = {
    val lock = new org.apache.hadoop.fs.Path(cfg.location, lockName)
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val token = java.util.UUID.randomUUID().toString
    def contention(e: java.io.IOException): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"$op on ${cfg.location} refused: writer lock $lock is held " +
          s"(${lockHolder(fs, lock).getOrElse("holder unreadable")}). " +
          "Another maintenance op is in flight — retry after it " +
          "finishes; if its writer crashed, repair() removes the " +
          "stale lock.", e)
    // pre-check: on stores whose create(overwrite=false) is a plain PUT
    // the create below would silently clobber a HELD lock — an existing
    // marker is contention regardless of filesystem semantics
    if (fs.exists(lock)) contention(new java.io.IOException("lock file present"))
    val payload =
      s"""{"op": "$op", "taken_at": "${java.time.Instant.now()}", "holder": "$token"}"""
        .getBytes("UTF-8")
    // ACQUIRE with the store's exclusive create ([[Lake.createIfAbsent]]):
    // exact on file:// (O_EXCL), HDFS and conditional-create stores;
    // plain-PUT stores keep the verify-after-write mitigation below (the
    // documented lock residual)
    if (!Lake.createIfAbsent(fs, lock, payload))
      contention(new java.io.IOException("lock file present"))
    try {
      // verify-after-write: the lease survives only if OUR token is
      // what the store now serves (see scaladoc: object-store race).
      // Redundant on file:// and HDFS (atomic create) and under
      // conditional create (the store arbitrated at close);
      // load-bearing on plain-PUT stores without it.
      if (!lockHolder(fs, lock).exists(_.contains(token)))
        contention(new java.io.IOException("lost lock-create race"))
      // shared-marker check AFTER our lock is visible (store-then-load
      // on both sides: an appender stores its marker then loads `_lock`;
      // we store `_lock` then load markers — at least one side must see
      // the other, so append and maintenance can never both proceed).
      // Listing is strongly consistent on POSIX/HDFS and on S3 since
      // 2020, so a marker created before our load is visible to it.
      val markers = appendMarkers(fs)
      if (markers.nonEmpty) {
        fs.delete(lock, false)
        throw new java.util.ConcurrentModificationException(
          s"$op on ${cfg.location} refused: writer lock yields to " +
            s"${markers.size} in-flight append(s) " +
            s"(${markers.map(_.getPath.getName).mkString(", ")}). " +
            "Retry after they finish; a crashed appender's stale marker " +
            "is cleared by repair() or vacuum(force).")
      }
      body
    } finally {
      // release ONLY a lock we still hold: if a racing writer's PUT
      // overwrote ours, deleting here would unlock THEM
      if (lockHolder(fs, lock).exists(_.contains(token)))
        fs.delete(lock, false)
    }
  }

  /** Every live shared append marker under the root. */
  private def appendMarkers(fs: org.apache.hadoop.fs.FileSystem)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    listRoot(fs).filter(s =>
      s.isFile && Lake.appendMarkerRe.matches(s.getPath.getName))

  /** SHARED gate for plain appends — the concurrent-ingest protocol
    * (the 100 TB loading story: N parallel ingest jobs must not
    * serialize on one marker file). An append:
    *
    *  1. refuses if the exclusive `_lock` is present (maintenance is
    *     restructuring the very tree the append would land in);
    *  2. creates its own uniquely-named `_append.<uuid>.lock` marker —
    *     unique names never collide, so appends admit each other;
    *  3. re-checks `_lock` AFTER its marker is visible: both sides
    *     store their marker first and load the other's second, so under
    *     a linearizable store (POSIX/HDFS; S3 is list-after-PUT
    *     consistent since 2020) at least one of a racing append /
    *     maintenance pair sees the other and backs off — they can never
    *     both proceed. If maintenance won, the append deletes its
    *     marker and throws, leaving nothing behind.
    *
    * Appends are safe to run concurrently by construction: each writes
    * fresh uniquely-named files into the current generation's tree
    * ([[writeAppend]]), touches no existing file, and commits them in a
    * sidecar version created only if absent; an append that loses a
    * version to a rival re-reads the newest state and merges its files
    * into it ([[commitAppend]]). Maintenance cannot interleave, so no
    * commit can republish a stale manifest (the lost-update hazard that
    * kept ingest serialized before). A crashed appender strands its marker;
    * maintenance then fails loudly until [[repair]] (or
    * `vacuum(force)`) clears it — the same posture as the exclusive
    * lock. */
  private def withAppendLock[T](op: String)(body: => T): T = {
    val fs = fsOfRoot
    val lock = new org.apache.hadoop.fs.Path(cfg.location, lockName)
    def contention(): Nothing =
      throw new java.util.ConcurrentModificationException(
        s"$op on ${cfg.location} refused: writer lock $lock is held " +
          s"(${lockHolder(fs, lock).getOrElse("holder unreadable")}). " +
          "A maintenance op is in flight — retry after it finishes; if " +
          "its writer crashed, repair() removes the stale lock.")
    if (fs.exists(lock)) contention()
    fs.mkdirs(new org.apache.hadoop.fs.Path(cfg.location)) // first-ever append
    val marker = new org.apache.hadoop.fs.Path(cfg.location,
      s"_append.${java.util.UUID.randomUUID()}.lock")
    val out = fs.create(marker, false)
    // once created, the marker blocks every maintenance op until aged
    // out — so ANY failure between create and the body's own
    // try/finally (a short write, the store-then-load re-check, the
    // contention throw itself) must tear it down on the way out
    try {
      try out.write(
        s"""{"op": "$op", "taken_at": "${java.time.Instant.now()}"}"""
          .getBytes("UTF-8"))
      finally out.close()
      if (fs.exists(lock)) contention()
    } catch { case t: Throwable => fs.delete(marker, false); throw t }
    try body finally fs.delete(marker, false)
  }

  /** The lock body read fully: a short read would drop the holder token. */
  private def lockHolder(fs: org.apache.hadoop.fs.FileSystem,
      lock: org.apache.hadoop.fs.Path): Option[String] =
    try Some(ControlFiles.readControlFile(fs, lock)).filter(_.nonEmpty)
    catch { case _: Throwable => None }

  /** Path of generation `g`'s subtree under the root. */
  private def genPath(g: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(cfg.location, s"gen-$g")

  /** True iff `tree` holds partition directories or bare parquet files.
    * Pass `knownExists = true` when a prior listing already proved the
    * directory's presence — skips one HEAD round trip per call on the
    * hot read path. */
  private def treeHasData(fs: org.apache.hadoop.fs.FileSystem,
      tree: org.apache.hadoop.fs.Path, knownExists: Boolean = false): Boolean =
    (knownExists || fs.exists(tree)) && fs.listStatus(tree).exists(s =>
      (s.isDirectory && s.getPath.getName.contains("=")) ||
        (s.isFile && s.getPath.getName.endsWith(".parquet")))

  /** Every live (escaped-dir-name, generation) pair: the manifest,
    * which names the current generation's directories too when the state
    * records them ([[LakeState.genRecorded]]), or else the manifest plus
    * the current generation's own partition directories (a state written
    * before appends committed through the sidecar: its whole current
    * tree is live by rule). One dir name can appear under several
    * generations — a partition rewritten long ago and appended to since
    * has copies in both. */
  private def liveEntries(st: LakeState): Seq[(String, Long)] = {
    // a SEALED state is manifest-only ([[seal]]): its generation tree
    // was empty at commit, and anything there now (post-seal appends
    // before their unsealing commit, or a crashed append's orphans) is
    // not part of the sealed snapshot
    if (st.isSealed || st.genRecorded) return st.live
    val fs = fsOfRoot
    val cur = genPath(st.generation)
    // one LIST, no existence probe first: a missing tree has no
    // directories
    val inCur =
      try fs.listStatus(cur).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .map(_.getPath.getName -> st.generation)
      catch { case _: java.io.FileNotFoundException => Nil }
    st.live.filter(_._2 != st.generation) ++ inCur
  }

  /** Data sitting at ROOT level, outside any generation: a pre-v2 flat
    * lake (still readable) or a foreign dataset dropped at this
    * location (read()'s schema validation rejects it loudly instead of
    * bootstrapping an empty lake on top of someone else's data).
    * Maintenance ops refuse while such data is present — they cannot
    * retire what the manifest does not govern. */
  private def rootLevelDataFrom(entries: Seq[org.apache.hadoop.fs.FileStatus]): Seq[org.apache.hadoop.fs.Path] =
    entries.filter(s =>
      (s.isDirectory && s.getPath.getName.contains("=")) ||
        (s.isFile && s.getPath.getName.endsWith(".parquet"))).map(_.getPath)

  /** True when `st`'s current generation is STREAM-OWNED: a Structured
    * Streaming sink's `_spark_metadata` manifest governs which of its
    * files readers see, so a raw listing of that tree would serve
    * uncommitted files and a rewrite would orphan the sink's. A sealed
    * state is manifest-only by contract ([[seal]]), never stream-owned. */
  private def streamOwned(st: LakeState): Boolean =
    !st.isSealed && fsOfRoot.exists(new org.apache.hadoop.fs.Path(
      genPath(st.generation), "_spark_metadata"))

  /** The maintenance guard: `op` refuses data the manifest does not
    * govern — root-level (pre-v2/foreign) data in `entries`, the root
    * listing the op already took, and (unless `streamOk`, for side
    * indexes that rewrite nothing) a stream-owned current generation. */
  private def requireManifestGoverned(op: String, st: LakeState,
      entries: Seq[org.apache.hadoop.fs.FileStatus],
      streamOk: Boolean = false): Unit = {
    require(rootLevelDataFrom(entries).isEmpty,
      s"$op at ${cfg.location} refused: root-level (pre-v2/foreign) data " +
        "present — the manifest does not govern it; re-ingest into the " +
        "generation layout first")
    require(streamOk || !streamOwned(st),
      s"$op at ${cfg.location} refused: the current generation is a " +
        "streaming sink — its _spark_metadata manifest governs file " +
        "visibility; stop the stream first")
  }

  /** The data files the sidecar's FILE-level manifest records for `st`,
    * per (escaped-dir, generation) entry, as QUALIFIED statuses — the
    * exact values a listing returns, so a served path and a listed one
    * compare equal — with their zone stats, less the ones `st` knows are
    * lost. Pure: no I/O. Serves a current-generation entry only when the
    * state records that generation ([[LakeState.genRecorded]]); otherwise
    * that tree is live by rule and only a listing is truthful for it. */
  private def recordedFiles(st: LakeState): Map[(String, Long),
      Seq[(org.apache.hadoop.fs.FileStatus, Option[ZoneStats])]] = {
    val fs = fsOfRoot
    st.liveFiles.collect { case (e @ (d, g), fl)
        if g != st.generation || st.genRecorded =>
      val dir = fs.makeQualified(new org.apache.hadoop.fs.Path(genPath(g), d))
      e -> fl.filterNot(f => st.lost((e, f.name))).map(f =>
        (graft.sources.GraftManifestFileIndex.status(dir, f.name, f.len, f.mod), f.stats))
    }
  }

  /** The zone stats `st` records, by qualified file path (the paths
    * [[resolveFiles]] serves). */
  private def zoneStatsOf(st: LakeState)
      : Map[org.apache.hadoop.fs.Path, ZoneStats] =
    recordedFiles(st).values.flatten
      .collect { case (s, Some(z)) => s.getPath -> z }.toMap

  /** Which files `st` holds: every data file of `entries` (live
    * (escaped-dir, generation) pairs of `st`), per entry. An entry
    * [[recordedFiles]] serves costs nothing; every other one — the
    * current generation's directories, entries an older sidecar did not
    * record — pays one LIST from a bounded pool. A listed directory that
    * is gone means vacuum swept past the state `op` resolved: loud,
    * never partial. The one answer every read, change feed, files view
    * and maintenance op plans from. */
  private def resolveFiles(fs: org.apache.hadoop.fs.FileSystem,
      st: LakeState, entries: Seq[(String, Long)], op: String)
      : Seq[((String, Long), Seq[org.apache.hadoop.fs.FileStatus])] = {
    val recorded = recordedFiles(st)
    val (served, toList) = entries.distinct.partition(recorded.contains)
    served.map(e => e -> recorded(e).map(_._1)) ++ mapDirsPooled(toList) { case (d, g) =>
      val p = new org.apache.hadoop.fs.Path(genPath(g), d)
      (d, g) -> (try dataFilesIn(fs, p)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalStateException(
            s"$op at ${cfg.location}: live directory $p is no longer on " +
              "disk — vacuum has swept past this sync point (see " +
              "vacuum(retainMs) for the consumer window)")
      })
    }
  }

  /** First unused generation number: past both the committed pointer
    * and any UNCOMMITTED tree a crashed op stranded on disk (those keep
    * their number until [[vacuum]] sweeps them — reusing it would mix
    * two ops' files in one tree), read from the root listing `entries`
    * the op took under the writer lock (nothing else creates a
    * generation tree while it is held). */
  private def nextGen(st: LakeState,
      entries: Seq[org.apache.hadoop.fs.FileStatus]): Long =
    (st.generation +: entries.flatMap(s => s.getPath.getName match {
      case genDirRe(g) if s.isDirectory => Some(g.toLong)
      case _ => None
    })).max + 1

  /** Append-write an already-derived frame (shared by [[ingest]], the
    * sink and [[upsert]]'s bootstrap path so they can never diverge).
    * The batch's files are written once, at their final names, into the
    * CURRENT generation's tree ([[LakeWriter]]); the append then COMMITS
    * with one sidecar version that names them ([[commitAppend]]). Until
    * that version exists they are invisible to every read, and a crash
    * before it leaves them for [[vacuum]] to sweep — an append is never
    * half-visible. The write stage hash-partitions on the partition
    * column into min(shards, cores) tasks: each shard still gets exactly
    * one file, and the stage uses the cores. On a lake with a zone map
    * the commit names the files with their zone stats ([[zoneRows]] over
    * exactly these files). Returns the partition values this batch
    * landed files in (the skip-index refresh scope) and the committed
    * state. Caller holds the shared OR exclusive gate and resolved `st`
    * under it (and checked its write config against it), so maintenance
    * cannot move the generation pointer before the commit.
    *
    * `sinkBatch` (the streaming-sink path, [[ingestExactlyOnce]]) is
    * `(sink, batch)`: the commit records the batch as that sink's head,
    * and commits nothing (None) when the newest state it commits over
    * already records it — a rival attempt of the batch won, and this
    * attempt deletes its own files, which no version names. */
  private def writeAppend(fs: org.apache.hadoop.fs.FileSystem, st: LakeState,
      derived: DataFrame, sinkBatch: Option[(String, Long)] = None)
      : Option[Lake.Appended] = {
    requireRouting(st) // never append rows routed under foreign hyperplanes
    // a generation with a sink manifest is STREAM-OWNED: the manifest
    // governs which files readers see, and it will never name a batch
    // append's files — writing here would produce committed-but-
    // invisible rows. [[ingestStream]] rolls a fresh generation when it
    // starts over batch data; the inverse direction refuses.
    require(!streamOwned(st),
      s"refusing batch ingest at ${cfg.location}: the current generation " +
        "is a streaming sink (its _spark_metadata manifest would not " +
        "name the appended files, hiding them from every read)")
    // files are written only into a generation the newest sidecar
    // records: a state whose current generation still resolves by
    // listing (no sidecar yet, or one written before appends committed
    // through it) first commits that tree as it stands. A listing is
    // committed only if no version was created since it was taken, and
    // every append creates one before it writes, so no listing ever
    // records another append's files, finished or half-written.
    val base =
      if (st.genRecorded || st.isSealed) st
      else commitAppend(fs, st)(b => Some(editGenFiles(fs, b)(identity))).get
    val gen = genPath(base.generation)
    val written = LakeWriter.write(byPartition(derived), gen, Some(partCol),
      cfg.codec)
    val byDir = withZoneStats(base, base.generation,
      written.groupBy(_.dir).toSeq.map { case (d, ws) => d -> ws.map(_.file) })
    val paths = written.map(w => new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(gen, w.dir), w.file.name))
    // this append's own status of each of its files wins: a retried
    // commit may re-apply this to a version that already holds the batch
    val committed = commitAppend(fs, base)(cur =>
      Option.unless(sinkBatch.exists { case (id, b) => cur.sinks.get(id).exists(_ >= b) })(
        editGenFiles(fs, cur)(m0 => byDir.foldLeft(m0) { case (m, (d, fl)) =>
          val names = fl.map(_.name).toSet
          m.updated(d, m.getOrElse(d, Nil).filterNot(h => names(h.name)) ++ fl)
        }).copy(sinks = cur.sinks ++ sinkBatch)))
    // declined: no sidecar will ever name these files, so delete them now
    // rather than leave them for vacuum (a listing fallback past a torn
    // newest version would serve them as duplicates)
    if (committed.isEmpty) paths.foreach(fs.delete(_, false))
    committed.map(Lake.Appended(byDir.map(_._1).toSet.map(dirValue), _))
  }

  /** `rows` hash-partitioned on the partition column into min(shards,
    * cores) tasks — the write shape of an append and of a one-file-per-
    * partition rewrite: every partition value lands in exactly one task,
    * so it gets exactly one file, and the write stage runs on all the
    * cores (an unnumbered repartition lets adaptive execution coalesce a
    * small batch into one task that writes every shard in series). */
  private def byPartition(rows: DataFrame): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    rows.repartition(math.max(1,
      if (cfg.partitionKey.isDefined) cores else math.min(lsh.numShards, cores)),
      col(partCol))
  }

  /** `base` with its current generation's files (per directory) passed
    * through `f`, recording that generation. A base that does not record
    * it yet (a sidecar written before appends committed here) first
    * takes what that tree holds, by listing it once. Recorded files keep
    * their zone stats. */
  private def editGenFiles(fs: org.apache.hadoop.fs.FileSystem, base: LakeState)(
      f: Map[String, Seq[LiveFile]] => Map[String, Seq[LiveFile]]): LakeState = {
    val g = base.generation
    val next = f(resolveFiles(fs, base, liveEntries(base).filter(_._2 == g), "append")
      .map { case (e @ (d, _), fl) => d -> base.liveFiles.get(e)
        .filter(_ => base.genRecorded).getOrElse(fl.map(LiveFile.of)) }.toMap)
      .filter(_._2.nonEmpty)
    base.copy(
      live = base.live.filter(_._2 != g) ++ next.keys.toSeq.sorted.map(_ -> g),
      liveFiles = base.liveFiles.filter(_._1._2 != g) ++
        next.map { case (d, fl) => (d, g) -> fl },
      genRecorded = true, isSealed = false)
  }

  /** The ONE derived-column block, shared by batch and streaming ingest
    * so the two paths can never diverge: metadata coercion (column
    * missing → {"name":"unknown"}; null or EMPTY map → {"id":"1"}, the
    * reference's ingest quirk, index.py:572-575), document default,
    * uuid id, ingest timestamp, float vector cast, LSH shard routing,
    * and `st`'s registered extras. All row-local expressions — map-side
    * at any scale. */
  private def withDerived(rows: DataFrame, st: LakeState): DataFrame = {
    var df = rows
    // NESTED metadata (reference parity: `add` accepts an arbitrary
    // dict, index.py:266): a `metadata_json` string column rides
    // OPAQUELY in the stored map under the reserved "_json" key — the
    // stored schema stays map<string,string>, any JSON nesting depth
    // round-trips byte-exactly, and [[metadataField]] reads nested
    // paths out at query time (get_json_object, codegen'd — no schema
    // migration, no UDF). A user map that already carries "_json"
    // fails map_concat's duplicate-key check loudly rather than
    // silently shadowing one side.
    if (df.columns.contains("metadata_json")) {
      val j = coalesce(col("metadata_json").cast(StringType), lit("{}"))
      df =
        (if (df.columns.contains("metadata"))
          df.withColumn("metadata", map_concat(
            coalesce(col("metadata"),
              map().cast(MapType(StringType, StringType))),
            map(lit("_json"), j)))
        else df.withColumn("metadata", map(lit("_json"), j)))
          .drop("metadata_json")
    }
    if (!df.columns.contains("metadata"))
      df = df.withColumn("metadata",
        map(lit("name"), lit("unknown")).cast(MapType(StringType, StringType)))
    else
      df = df.withColumn("metadata",
        when(col("metadata").isNull || size(col("metadata")) === 0,
          map(lit("id"), lit("1")).cast(MapType(StringType, StringType)))
          .otherwise(col("metadata")))
    // NULL-valued derived columns are treated like ABSENT ones, per row
    // — the SQL write path (INSERT INTO ... USING graft with a column
    // list, df.write.format("graft") with a subset schema) delivers the
    // full table schema with unsupplied columns null-filled, and a null
    // document/id landing verbatim would diverge from what the same
    // rows get through the Scala API
    if (!df.columns.contains("document")) df = df.withColumn("document", lit(""))
    else df = df.withColumn("document",
      coalesce(col("document").cast(StringType), lit("")))
    // a caller-supplied id survives (upsert identity); absent or null →
    // uuid, the reference's default (index.py:577)
    if (!df.columns.contains("id")) df = df.withColumn("id", expr("uuid()"))
    df = df
      .withColumn("id", coalesce(col("id").cast(StringType), expr("uuid()")))
      // a caller-supplied timestamp survives (backfill/replay ingest
      // keeps source event times — and the zone map's time pruning is only
      // as good as the times are meaningful); absent or null → now(),
      // the reference's always-stamp default. Never null either way.
      // NUMERIC columns are REFUSED rather than cast: Spark reads a
      // bare number as epoch SECONDS, so the overwhelmingly common
      // epoch-millis source would silently land every row ~50,000 years
      // out — convert explicitly (timestamp_seconds/timestamp_millis)
      // to say which unit you mean. MALFORMED strings are refused
      // per-row in the plan: a non-null source value whose cast comes
      // back null (a date format Spark cannot parse) would otherwise be
      // coalesced to now() — silently rewriting a backfill's event
      // times to ingest time and corrupting readTimeRange/topKInRange
      // semantics. Only absent/NULL values are defaulted.
      .withColumn("timestamp",
        if (df.columns.contains("timestamp")) {
          require(!df.schema("timestamp").dataType
            .isInstanceOf[org.apache.spark.sql.types.NumericType],
            s"ingest at ${cfg.location}: the supplied `timestamp` column is " +
              s"numeric (${df.schema("timestamp").dataType.simpleString}) — " +
              "ambiguous epoch unit (seconds? millis?). Convert explicitly " +
              "with timestamp_seconds(...) or timestamp_millis(...).")
          // try_cast, not cast: under ANSI (Spark 4's default) a plain
          // cast throws CAST_INVALID_INPUT with no ingest context, and
          // under ANSI-off it nulls silently — try_cast nulls in BOTH
          // modes, so the refusal below fires deterministically with
          // the lake's own message regardless of the session's mode.
          coalesce(col("timestamp").try_cast(TimestampType),
            when(col("timestamp").isNull, current_timestamp())
              .otherwise(raise_error(concat(
                lit(s"ingest at ${cfg.location}: unparseable `timestamp` " +
                  "value '"),
                col("timestamp").cast(StringType),
                lit("' — malformed timestamps are rejected (only " +
                  "absent/null values default to now()); fix the source " +
                  "format or cast explicitly before ingest")))
                .cast(TimestampType)))
        } else current_timestamp())
      // a NULL or WRONG-LENGTH vector is refused per-row in the plan
      // (not pre-counted — that would cost an extra scan): a null
      // cannot be routed, packed, or searched (and on an LSH lake it
      // would silently land in the Hive default partition outside
      // every shard prune), and a vector of the wrong dimension would
      // route through a truncated dot product and poison every later
      // distance — the easiest mistake to make through the SQL write
      // surface, caught at the door with the lake's own message
      .withColumn("vector",
        when(col("vector").isNull, raise_error(lit(
          s"ingest at ${cfg.location}: `vector` is null — every ingested " +
            "row needs a vector (it is the routing and search key)"))
          .cast(ArrayType(FloatType)))
          .when(size(col("vector")) =!= cfg.dim, raise_error(concat(
            lit(s"ingest at ${cfg.location}: vector of length "),
            size(col("vector")).cast(StringType),
            lit(s" does not match the lake's dim ${cfg.dim}")))
            .cast(ArrayType(FloatType)))
          .otherwise(col("vector").cast(ArrayType(FloatType))))
    if (cfg.packSignBits)
      df = df.withColumn("packed", V.signPack(col("vector")))
    cfg.pqCodebooks.foreach { m =>
      df = df.withColumn("pq_code",
        (0 until m.m).map(mi =>
          shiftleft(m.codeCol(col("vector"), mi).cast("long"), 8 * mi))
          .reduce(_ + _))
    }
    if (cfg.partitionKey.isEmpty)
      df = df.withColumn("shard", lsh.shardCol(col("vector")))
    // footer attrs parity (reference index.py:296-305): Spark's parquet
    // writer serializes field metadata into the footer's spark-schema
    // key/value entry, so stamping the timestamp field lands last_update
    // + index attrs in EVERY data file's footer — readable by any
    // parquet reader (FooterMetaSpec proves it) — not just the sidecar
    val stamped = storedCols.map {
      case "timestamp" => col("timestamp").as("timestamp", footerStamp)
      case c           => col(c)
    }
    // schema-evolution extras ride along: a supplied column is cast to
    // its REGISTERED type (the sidecar's), an absent one is typed null
    // — every file written after an evolve() carries the full current
    // schema, so null-filling pre-evolve files is the only merge reads
    // ever need. Unregistered input columns are dropped (the documented
    // ingest contract): evolve() first, then ingest.
    val extras = extraFieldsOf(st).map { f =>
      (if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)
    }
    df.select((stamped ++ extras :+ col(partCol)): _*)
  }

  /** Per-write footer attrs, stamped at plan-construction time (once per
    * batch ingest; once at stream start for the streaming path). */
  private def footerStamp: Metadata = new MetadataBuilder()
    .putString("graft.last_update", java.time.Instant.now().toString)
    .putLong("graft.dim", cfg.dim.toLong)
    .putString("graft.metric", cfg.metric)
    .build()

  /** Continuous ingest: the streaming form of [[ingest]] — the SAME
    * [[withDerived]] block (shard routing, metadata coercion incl. the
    * empty-map quirk), written by Structured Streaming's file sink
    * (exactly-once via checkpointed manifests). The reference has no
    * streaming path at all (SURVEY.md §2.10).
    *
    * `last_update` semantics on a long-running stream: the parquet
    * FOOTER stamp is evaluated once at plan construction, so every file
    * the stream ever writes carries the stream-START timestamp — the
    * sidecar is the authoritative `last_update` here, and
    * a [[org.apache.spark.sql.streaming.StreamingQueryListener]] scoped
    * to this query re-stamps it after every data-carrying micro-batch
    * (the sidecar sits outside the sink's `_spark_metadata` manifest,
    * so the refresh cannot race the sink's exactly-once bookkeeping).
    * This matches the reference's per-persist stamping (index.py:
    * 296-305) at micro-batch granularity.
    *
    * The sink writes into the CURRENT generation's tree (resolved at
    * stream start). Maintenance ops refuse to run while the sink's
    * `_spark_metadata` manifest is present there, so the generation
    * pointer cannot move out from under a live stream. */
  def ingestStream(rows: DataFrame, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)): org.apache.spark.sql.streaming.StreamingQuery = {
    // check the config, resolve the sink generation, stamp, AND pin it
    // — all under the writer lock, failing LOUDLY on contention (a
    // silently-skipped start racing a compact could resolve a generation
    // that a commit + vacuum then retires before batch 0 writes the sink
    // manifest: batch 0 would recreate the dead tree and its rows would be
    // invisible and vacuum-bait). Pinning = pre-creating the sink's
    // `_spark_metadata` dir here, so the maintenance guard refuses
    // from stream START, not from batch 0's commit; the sink's
    // metadata log happily adopts the pre-existing empty dir.
    val (sinkPath, sinkSt, pinnedMeta) = withWriterLock("ingestStream-start") {
      val (fs, entries, st) = resolveState()
      // both BEFORE the sidecar write below re-stamps it
      requireRouting(st)
      requireWriteConfigMatch(fs, entries, st)
      val cur = genPath(st.generation)
      val metaExisted = fs.exists(
        new org.apache.hadoop.fs.Path(cur, "_spark_metadata"))
      // A generation that already holds BATCH data must not become the
      // sink: the sink's manifest governs which files readers see in
      // its tree, and it would never name the batch files — every
      // pre-existing row would vanish from read(). ROLL instead: one
      // commit keeps every live dir at its existing generation (they
      // keep reading through the normal older-generation branch) and
      // opens a fresh generation the manifest is truthfully
      // authoritative for. A generation that already HAS a manifest is
      // stream-owned (this is a restart): reuse it, never roll —
      // the checkpointed sink log continues where it left off.
      val sinkSt =
        if (!metaExisted && treeHasData(fs, cur)) {
          // the roll carries any in-flight reshard forward: pending
          // (dir, generation) references are absolute, so a fresh
          // append target never invalidates them
          val rolled = st.copy(generation = nextGen(st, entries),
            live = liveEntries(st), genRecorded = false)
          writeState(rolled)
          rolled
        } else {
          // the sink's own manifest, not the sidecar, names what its
          // generation holds
          val sink = st.copy(genRecorded = false)
          writeState(sink); sink
        }
      val p = genPath(sinkSt.generation)
      val meta = new org.apache.hadoop.fs.Path(p, "_spark_metadata")
      // remember whether THIS call created the pin: a pre-existing
      // manifest (a restarted stream, possibly with committed batches)
      // must never be rolled back by our failure path below
      val created = !fs.exists(meta)
      if (created) fs.mkdirs(meta)
      (p.toString, sinkSt, if (created) Some(meta) else None)
    }
    import org.apache.spark.sql.streaming.StreamingQueryListener
    // registered BEFORE start() so batch 0's progress event can't slip
    // through the start→addListener window. The query is given a unique
    // name, and onQueryStarted — which Spark delivers synchronously
    // INSIDE start(), before any progress or termination event — latches
    // the query id from it. Progress and termination then match on that
    // id alone: no sink-description substring test (which false-matched
    // sibling paths, /x/lake vs /x/lake2) and no post-start id
    // assignment (which leaked the listener when a query terminated
    // before start() returned).
    val qName = s"graft_ingest_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val stamper = new StreamingQueryListener {
      @volatile private var queryId: java.util.UUID = null
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        if (e.name == qName) queryId = e.id
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == queryId && e.progress.numInputRows > 0)
          stampQuietly() // pure last_update stamp; state unchanged
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == queryId) spark.streams.removeListener(this)
    }
    spark.streams.addListener(stamper)
    val query =
      try withDerived(rows, sinkSt)
        .writeStream
        .queryName(qName)
        .format("parquet")
        .option("path", sinkPath)
        .option("checkpointLocation", checkpoint)
        .option("compression", cfg.codec)
        .partitionBy(partCol)
        .trigger(trigger)
        .start()
      catch { case t: Throwable =>
        spark.streams.removeListener(stamper)
        // a failed start() must not leave the pin behind: an EMPTY
        // streaming manifest in the live tree would hide every
        // current-generation row from read() (the branch honors it)
        // and refuse maintenance forever. Remove only the dir this
        // call created, only while still empty, under the lock;
        // best-effort — the start failure is the error that matters
        try pinnedMeta.foreach { m =>
          withWriterLock("ingestStream-unpin") {
            val fs = fsOfRoot
            if (fs.exists(m) && fs.listStatus(m).isEmpty) {
              fs.delete(m, false); ()
            }
          }
        } catch { case scala.util.control.NonFatal(_) => () }
        throw t }
    query
  }

  /** Schema-validated read (reference validates column list on load,
    * index.py:249-250). Empty-location bootstrap returns an empty frame
    * with the canonical schema (index.py:247).
    *
    * Layout v2: one branch per live GENERATION, each planned from the
    * files [[resolveFiles]] names — the whole current tree (appends
    * land there; one LIST per directory) and each older generation's
    * manifest-named directories (served from the sidecar, no LIST). A
    * stream-owned current tree is read as a single path instead, so
    * the sink's `_spark_metadata` manifest is honored. A
    * freshly-compacted (or never-rewritten) lake is ONE branch — the
    * exact single-scan plan of a flat layout; each uncommitted-into-
    * compact maintenance op adds at most one branch, and partition
    * pruning applies inside every branch. Dead directories are never
    * even LISTED — a reader's paths are resolved from one sidecar
    * read, and nothing deletes a live-at-resolution-time directory
    * except an operator-invoked [[vacuum]]. */
  def read(): DataFrame = readScoped(None)

  /** [[read]] (or [[readAt]] `version`) cut to the partitions holding
    * `values` (decoded partition values at the session's width, None =
    * the Hive null partition): only the live entries that can hold one
    * of them are resolved — a routed search on an unsealed lake LISTs
    * its probed directories, not the whole current tree — and
    * [[affectedPartPred]] stays on top, so the rows are exactly those
    * of the unscoped read filtered by it ([[inScope]] keeps a superset
    * of the entries holding them). Every read that already knows its
    * partitions goes through here. */
  private[graft] def readPartitions(values: Set[Option[String]],
      version: Option[Long] = None): DataFrame =
    readScoped(Some(values), version)

  private def readScoped(scope: Option[Set[Option[String]]],
      version: Option[Long] = None): DataFrame = {
    val (fs, entries, st) = resolveState()
    requireRouting(st) // a mismatched-config session must not prune/route
    readFrom(version.fold(st)(vacuumCheckedStateAt(_, fs, entries)),
      entries, scope)
  }

  /** SNAPSHOT READ at a past sidecar version — time travel, free by
    * construction in this layout: every commit is a NEW sidecar file
    * and superseded generations are dead-IN-PLACE, so any version still
    * on disk (a few are always kept; [[vacuum]] is the only thing that
    * retires them and their generations) replays exactly the rows that
    * commit saw. Pair with [[history]] to pick the version. Appends are
    * not versioned below commit granularity: a snapshot whose
    * generation received later appends includes them (the whole
    * current-gen tree is live by rule) — maintenance commits are the
    * snapshot boundaries, the same contract as the reference's
    * last-persist-wins stamp, but queryable. Fails loudly when the
    * version's sidecar (or a generation it names) has been vacuumed. */
  def readAt(version: Long): DataFrame = readScoped(None, Some(version))

  /** [[stateAt]] plus the vacuumed-snapshot detectors [[readAt]] and
    * the `graft` DSv2 format's [[formatScan]] share — a retired
    * snapshot must fail loudly, never read back partial or empty.
    * Two detectors, both needed: (a) the commit recorded whether its
    * OWN generation tree held data, so that tree being gone is
    * detectably retired; (b) SEALED commits always record
    * gen_has_data=false (seal rolls to a fresh empty generation), so
    * for them the signal is a MANIFEST-NAMED generation missing from
    * the root listing — vacuum only ever sweeps whole generation
    * trees, and the listing is already in hand, so this costs
    * nothing. */
  private def vacuumCheckedStateAt(version: Long,
      fs: org.apache.hadoop.fs.FileSystem,
      entries: Seq[org.apache.hadoop.fs.FileStatus]): LakeState = {
    val st = stateAt(version, fs, entries)
    if (st.genHasData.contains(true) &&
        !treeHasData(fs, genPath(st.generation)))
      throw new IllegalStateException(
        s"snapshot $version at ${cfg.location} has been vacuumed: " +
          s"generation ${st.generation} is no longer on disk")
    val present = entries.collect {
      case e if e.isDirectory => e.getPath.getName
    }.toSet
    val swept = st.live.map(_._2).distinct.sorted
      .filterNot(g => present.contains(genPath(g).getName))
    if (swept.nonEmpty)
      throw new IllegalStateException(
        s"snapshot $version at ${cfg.location} has been vacuumed: " +
          s"generation(s) ${swept.mkString(", ")} no longer on disk " +
          "(see vacuum(retainMs) for the consumer window)")
    st
  }

  /** CLONE — materialize this lake's current (or `asOf`-pinned)
    * snapshot as a NEW, fully independent lake at `targetLocation`:
    * the experiment-fork op (Delta's `CREATE TABLE ... DEEP CLONE`
    * analog). Every stored byte is preserved — ids, timestamps,
    * metadata, routing (`shard` values stay valid because the clone
    * inherits this config's hyperplane seed), compressed columns
    * (`packed`/`pq_code` under the same codebooks), and whatever
    * schema-evolution extras the SNAPSHOT carries (an `asOf` clone
    * gets the schema as of that version, not today's). Nothing is
    * re-derived and no routing is recomputed: the snapshot frame is
    * handed straight to the target's append path.
    *
    * DEEP by design, shallow deliberately declined: the manifest
    * stores root-relative directory names and [[vacuum]] owns dead
    * trees per root, so a metadata-only clone would either break on
    * relative resolution or couple the two lakes' retention lifetimes
    * (the source's vacuum silently destroying the clone's data). One
    * distributed read→write job instead — O(data) but zero driver
    * data-plane, and the clone's lifecycle (compaction, vacuum,
    * seals, indexes — rebuilt on demand, not copied) is its own from
    * the first byte.
    *
    * The target must be EMPTY (no sidecar, no data): clone creates,
    * never merges. A vacuumed `asOf` fails loudly via [[readAt]]. */
  def cloneTo(targetLocation: String, asOf: Option[Long] = None): Lake = {
    // the clone's first sidecar is stamped from THIS config, so a
    // session whose config lacks a compression the SOURCE declares
    // (the codebook-less SQL-procedure session on a PQ lake, a
    // misconstructed Scala one) would produce a target whose sidecar
    // misdescribes the faithfully-copied pq_code/packed bytes — refuse,
    // same contract as every write surface
    val (fs, entries, st) = resolveState()
    requireRouting(st)
    requireNoLesserConfig(st)
    val here = fs.makeQualified(new org.apache.hadoop.fs.Path(cfg.location))
    val there = new org.apache.hadoop.fs.Path(targetLocation)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(new org.apache.hadoop.fs.Path(targetLocation))
    require(here != there,
      s"cloneTo: target equals the source location $here")
    val snap = readFrom(asOf.fold(st)(vacuumCheckedStateAt(_, fs, entries)), entries)
    val target = Lake(spark, cfg.copy(location = targetLocation))
    val (tfs, tEntries, tSt) = target.resolveState()
    require(!target.holdsData(tfs, tEntries, tSt) && tSt.config.isEmpty,
      s"cloneTo: target $targetLocation already holds a lake or data — " +
        "clone only creates, never merges; delete() the target first")
    // extras = snapshot columns beyond this config's canonical stored
    // set (registered on the target BEFORE the append so its very
    // first sidecar carries them)
    val base = (storedFields.map(_.name) :+ partCol).map(_.toLowerCase).toSet
    val extras = snap.schema.fields.filterNot(f => base(f.name.toLowerCase))
    if (extras.nonEmpty) target.evolve(StructType(extras.toSeq))
    target.withAppendLock("clone") {
      val (_, _, evolved) = target.resolveState() // the extras' commit, if any
      target.writeAppend(tfs, evolved, snap); ()
    }
    target
  }

  /** REPLICATION APPLY — advance this lake by a netted change-feed
    * delta ([[changesBetween]]'s frame: stored columns + partition
    * column + `change` ∈ insert|delete). The churn-proportional
    * companion to [[cloneTo]]: a replica cut at version A follows its
    * source to version B by applying `changesBetween(A, B)` — cost
    * O(churn + affected partitions), never O(data), where a re-clone
    * would copy everything.
    *
    * Semantics are upsert-shaped and byte-preserving: rows matching a
    * DELETE id leave, INSERT rows land exactly as carried (no
    * re-derive, no re-route — the delta's own `shard`/key values are
    * kept, valid because source and replica share the routing config
    * by clone construction), and any pre-existing row sharing an
    * INSERT id is replaced rather than duplicated (a replica drifted
    * by a partial earlier apply converges instead of corrupting).
    * Columns the delta carries beyond this lake's stored set are
    * auto-[[evolve]]d first, so a source schema evolution rides the
    * feed to the replica. The caller owns VERSION ALIGNMENT: applying
    * a delta whose from-version is not the replica's current state is
    * answered garbage-for-garbage ([[syncFrom]] is the aligned
    * convenience). Same rewrite machinery, locks, and sidecar
    * commit as [[upsert]]. Returns (deleted, inserted). */
  def applyChanges(changes: DataFrame): (Long, Long) = {
    require(changes.columns.contains("change"),
      "applyChanges wants a change-feed frame (a `change` column of " +
        "insert|delete) — see changesBetween/changesSince(netted=true)")
    withWriterLock("applyChanges")(applyChangesImpl(changes))
  }

  private def applyChangesImpl(changes: DataFrame): (Long, Long) = {
    val (fs, entries, st0) = resolveState()
    requireWriteConfigMatch(fs, entries, st0)
    requireRouting(st0)
    val delta = graft.operators.Materialize.cut(changes)
    val bad = delta.select("change").distinct()
      .as[String](org.apache.spark.sql.Encoders.STRING).collect()
      .filterNot(Set("insert", "delete"))
    require(bad.isEmpty,
      s"applyChanges: unknown change kind(s) ${bad.mkString(", ")}")
    val insRaw = delta.where(col("change") === "insert").drop("change")
    val insCount = insRaw.count()
    val distinctIns = insRaw.select("id").distinct().count()
    require(distinctIns == insCount,
      s"applyChanges: delta inserts carry duplicate ids ($insCount rows, " +
        s"$distinctIns distinct) — not a netted feed frame")
    // the delta must CARRY the rows it claims: the BASE stored columns
    // and the partition column may never be padded — a null-filled
    // vector/id would corrupt rows, and a null-filled partition column
    // would misplace every insert into the default partition instead
    // of its routed shard. Only evolve()d extras null-fill (replica
    // evolved past the source), the same typed fill every read applies.
    val missing = (storedCols :+ partCol).filterNot(c =>
      insRaw.columns.exists(_.equalsIgnoreCase(c)))
    require(insCount == 0L || missing.isEmpty,
      s"applyChanges: the delta is missing stored column(s) " +
        s"${missing.mkString(", ")} — not a change-feed frame (see " +
        "changesBetween/changesSince; only evolved extras may be absent)")
    // ROUTING-WIDTH guard on the carried shard values: the feed is
    // byte-preserving (no re-route), so a delta cut from a source that
    // RESHARDED to a wider routing than this replica carries shard ids
    // this lake's width can never probe — they would land in
    // directories single-probe topK never reads, a silent recall hole.
    // O(churn) like every other delta pass. (The inverse skew — a
    // NARROWER source's ids, all in range but routed under fewer
    // planes — is not detectable from values alone: [[syncFrom]]'s
    // instance-config equality covers the aligned path, and validate()
    // counts such rows as misrouted after the fact.)
    if (cfg.partitionKey.isEmpty && insCount > 0L) {
      val outOfWidth = insRaw
        .where(col(partCol) < 0 || col(partCol) >= lsh.numShards).count()
      require(outOfWidth == 0L,
        s"applyChanges at ${cfg.location}: $outOfWidth delta rows carry " +
          s"shard ids outside this lake's ${lsh.numShards}-shard width — " +
          "the source was resharded to a wider routing; reshard this " +
          "replica to the same width first (routing is deterministic, " +
          "both sides then converge), or re-clone")
    }
    // auto-evolve: delta columns beyond the stored set ride the feed
    // (inline sidecar commit under the held writer lock, so no
    // re-entrant evolve() — but the SAME validation: a legit source's
    // evolve already vetted these names, so anything validateExtraCols
    // refuses here marks a frame that never came from a feed); from here
    // on the op runs over the state that commit wrote
    val known = (storedColsOf(st0) :+ partCol).map(_.toLowerCase).toSet
    val extra = insRaw.schema.fields.filterNot(f => known(f.name.toLowerCase))
    val st =
      if (extra.isEmpty) st0
      else {
        validateExtraCols(st0, extra.toSeq, "applyChanges")
        val evolved = st0.copy(extraCols = st0.extraCols ++
          extra.map(f => f.name -> f.dataType.catalogString))
        writeState(evolved)
        evolved
      }
    if (!holdsData(fs, entries, st)) { // bootstrapping replica: the delta IS the state
      bootstrapAppend(fs, st, insRaw)
      return (0L, insCount)
    }
    // project both sides to the replica's stored shape; a column this
    // replica holds that the delta lacks (replica evolved past the
    // source) null-fills, the same typed fill every read applies
    val colsNow = storedColsOf(st)
    val shape = canonicalSchemaOf(st).fields.map(f => f.name -> f.dataType).toMap
    def proj(df: DataFrame): DataFrame = {
      val padded = (colsNow :+ partCol).filterNot(df.columns.contains)
        .foldLeft(df)((d, c) => d.withColumn(c, lit(null).cast(shape(c))))
      padded.select((colsNow.map(col) :+ col(partCol)): _*)
    }
    val ins = proj(insRaw)
    // every id the delta touches (delete = candidate removal, insert =
    // candidate replacement); affected-partition candidates come from
    // the delta itself — it carries the partition column for both
    // sides, so a shard-moving replacement hits old AND new dirs
    val touched = broadcast(
      delta.select(col("id").as("__chg_id")).distinct())
    val candidates = delta.select(partCol).distinct().collect()
      .map(r => Option(r.get(0)).map(_.toString)).toSet
    if (candidates.isEmpty) return (0L, 0L)
    // CONVERGENCE NETTING: net the incoming inserts against the
    // replica's CURRENT rows for the touched ids (the one netting
    // definition, [[Lake.netInsertsDeletes]]). A row already present
    // byte-identical contributes nothing; a delete for an absent id
    // no-ops — so re-applying a delta after a crashed half-applied
    // step, or replaying a full snapshot over an already-converged
    // replica (the [[follow]] bootstrap), REWRITES NOTHING instead of
    // churning every partition. Only partitions where a row actually
    // enters or leaves are rewritten.
    val current = graft.operators.Materialize.cut(
      proj(readFrom(st, entries, Some(candidates))
        .join(touched, col("id") === col("__chg_id"), "left_semi")))
    val net = graft.operators.Materialize.cut(netInsertsDeletes(ins, current))
    val r = net.agg(org.apache.spark.sql.functions.count(lit(1)), collect_set(col("id")),
      collect_set(struct(col(partCol)))).head()
    if (r.getLong(0) == 0L) return (0L, 0L) // already converged
    // the netted rows' own partitions bound the rewrite: a net delete
    // carries the partition its current row was read from, a net
    // insert its routed one
    rewriteRows(fs, entries, st, "applyChanges", Right(r.getSeq[String](1).toSet),
      Some(net.where(col("change") === "insert").drop("change")),
      scope = Some(r.getSeq[org.apache.spark.sql.Row](2)
        .map(x => Option(x.get(0)).map(_.toString)).toSet))
  }

  /** Aligned replication step: advance this REPLICA from its
    * `fromVersion` cut to the source's `toVersion` seal by applying
    * the netted delta — [[cloneTo]]`(asOf = A)` then repeated
    * `syncFrom(source, A, B)` / `syncFrom(source, B, C)` keeps a
    * replica following at O(churn). Both versions must be sealed sync
    * points on the SOURCE ([[changesBetween]]'s contract; a vacuumed
    * endpoint fails loudly there). */
  def syncFrom(source: Lake, fromVersion: Long, toVersion: Long): (Long, Long) =
    applyChanges(source.changesBetween(fromVersion, toVersion))

  /** CONTINUOUS replication — this lake FOLLOWS `source` as a live
    * replica: the source's change feed (the raw DSv2 `graft-changes`
    * stream — the forward path, no legacy extension points) is netted
    * per micro-batch ([[graft.streaming.LakeChanges.net]]) and applied
    * through [[applyChanges]] inside `foreachBatch`. The composition
    * closes the replication story: [[cloneTo]] forks, [[syncFrom]]
    * advances seal-by-seal on demand, `follow` keeps a replica current
    * unattended.
    *
    * Consistency: each micro-batch is one sealed interval (a, b] of
    * the source, applied as one transactional rewrite here — the
    * replica only ever serves sealed source states, never a torn
    * middle. Exactly-once EFFECT without sink-side ledger machinery:
    * offsets are durable source seals, and a batch replayed after a
    * crash (foreachBatch is at-least-once) re-nets against the
    * replica's current rows and rewrites only what is genuinely
    * missing — an already-applied batch is a no-op by
    * [[applyChanges]]'s convergence netting.
    *
    * Bootstrap: a fresh checkpoint's first batch is the full sealed
    * snapshot as inserts. An EMPTY replica bootstraps with a plain
    * append (no netting cost); a replica pre-seeded by [[cloneTo]]
    * pays one convergence pass that reads both sides, proves them
    * identical, and rewrites nothing. Restarts resume from the
    * checkpoint and never re-pay the snapshot.
    *
    * Contention: each apply takes the REPLICA's writer lock and fails
    * fast if replica-side maintenance holds it — the query fails
    * loudly rather than stalling, and a restart converges by the
    * replay-netting contract above. Schedule replica maintenance
    * around the follower (or let the follower own it).
    *
    * 100 TB posture: steady-state cost per trigger is O(churn +
    * affected partitions) — file-level delta reads, the netting
    * anti-join shuffles only the delta, and only partitions where a
    * row actually enters or leaves are rewritten. [[graft.Lake.vacuum]]
    * on the SOURCE is the one thing that can break a long-stopped
    * follower's replay (it retires sealed versions); run it with
    * `retainMs` covering the follower's maximum downtime, same as any
    * change-feed consumer. */
  def follow(source: LakeConfig, checkpointLocation: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L)): org.apache.spark.sql.streaming.StreamingQuery = {
    require(source.location != cfg.location,
      "follow: a lake cannot follow itself")
    // rows land byte-as-carried (no re-route, no re-derive) — sound
    // only when both lakes resolve identical routing and storage
    require(source.dim == cfg.dim && source.numHashes == cfg.numHashes &&
      source.seed == cfg.seed && source.partitionKey == cfg.partitionKey &&
      source.packSignBits == cfg.packSignBits,
      "follow: source and replica must share the routing/storage config " +
        "(dim, numHashes, seed, partitionKey, packSignBits) — got source=" +
        s"(${source.dim}, ${source.numHashes}, ${source.seed}, " +
        s"${source.partitionKey}, ${source.packSignBits}) vs replica=" +
        s"(${cfg.dim}, ${cfg.numHashes}, ${cfg.seed}, " +
        s"${cfg.partitionKey}, ${cfg.packSignBits})")
    val reader = spark.readStream.format("graft-changes")
      .option("location", source.location)
      .option("dim", source.dim.toString)
      .option("numHashes", source.numHashes.toString)
      .option("metric", source.metric)
      .option("seed", source.seed.toString)
      .option("packSignBits", source.packSignBits.toString)
      .option("netted", "false")
      .option("initialSnapshot", "true")
    source.partitionKey.fold(reader)(k => reader.option("partitionKey", k))
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        applyChanges(graft.streaming.LakeChanges.net(batch.toDF()))
        ()
      }
      .option("checkpointLocation", checkpointLocation)
      .trigger(trigger)
      .start()
  }

  /** Per-shard divergence audit between this lake and a shard-aligned
    * `other` (a [[cloneTo]] fork, a [[syncFrom]]/[[follow]] replica) —
    * the replication VERIFICATION op: one row per live shard value
    * with both sides' row counts and an `in_sync` verdict derived
    * from counts plus an order-independent content fingerprint
    * (`bit_xor` of `xxhash64` over the stored columns both sides
    * share, partition column excluded), so a count-neutral divergence
    * — a corrupted vector, a document swapped under the same id — is
    * still caught. Columns: `(<partCol>, cnt, other_cnt, in_sync)`.
    *
    * 100 TB posture: this is the STORAGE-PARTITIONED-JOIN shape end
    * to end — both scans opt in (`option("spj", "true")`), so the
    * per-shard aggregates ride the key-grouped file partitions with
    * no exchange and the final per-shard join is co-located; the only
    * data movement is two map-side aggregated rows per shard
    * (GraftSpjSpec pins the zero-shuffle plan). Compare with a
    * re-download-and-compare: days of copy for a verdict this
    * computes in one metadata-light pass. */
  def diffStats(other: Lake): DataFrame = {
    require(other.cfg.location != cfg.location,
      "diffStats: comparing a lake to itself is vacuous")
    require(other.cfg.dim == cfg.dim && other.cfg.numHashes == cfg.numHashes &&
      other.cfg.seed == cfg.seed && other.cfg.partitionKey == cfg.partitionKey,
      "diffStats: lakes must share the routing config (dim, numHashes, " +
        "seed, partitionKey) or per-shard comparison is meaningless")
    // one state read per side serves its schema and its scan roots
    val (_, entries, st) = resolveState()
    val (_, otherEntries, otherSt) = other.resolveState()
    val schema = canonicalSchemaOf(st)
    val shared = {
      val mine = schema.fieldNames.toSet
      val theirs = other.canonicalSchemaOf(otherSt).fieldNames.toSet
      (mine intersect theirs - partCol).toSeq.sorted
    }
    require(shared.nonEmpty, "diffStats: no shared stored columns")
    // hash expressions prohibit MAP inputs (map hashcodes are
    // order-sensitive) — canonicalize maps to their sorted entry list.
    // NULL-DISTINGUISHING: xxhash64 passes its seed through unchanged
    // on a NULL input, so two rows differing only in WHICH of two
    // columns is null would hash identically — each value rides with
    // an explicit per-column null flag so null placement is part of
    // the fingerprint.
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    val hashInputs = shared.flatMap { f =>
      val v = byName(f) match {
        case _: MapType => sort_array(map_entries(col(f)))
        case _ => col(f)
      }
      Seq(v, isnull(col(f)).cast(IntegerType))
    }
    // TWO combiners over the per-row hash: bit_xor alone is blind to
    // byte-identical row PAIRS (h XOR h = 0 — a duplicated-and-
    // dropped-elsewhere pair would XOR-cancel, count-neutral), and a
    // plain sum alone is blind to nothing obvious but wraps under
    // ANSI overflow — so the additive combiner runs in decimal(38,0)
    // (10^19 hash magnitude × 10^19 rows fits) and a shard is in_sync
    // only when count, XOR fold, AND additive fold all agree.
    def side(l: Lake, cntName: String, hashName: String, sumName: String): DataFrame =
      spark.read.format("graft").option("spj", "true").load(l.cfg.location)
        .groupBy(col(partCol))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as(cntName),
          bit_xor(xxhash64(hashInputs: _*)).as(hashName),
          sum(xxhash64(hashInputs: _*).cast(DecimalType(38, 0))).as(sumName))
    // Join strategy by NULLABILITY of the shard key. A user-keyed
    // lake's null-key rows (hive default-partition dirs) and an
    // adopted flat lake's unpartitioned root files audit as ONE
    // null-key group per side — a plain equi-join would never match
    // them and report a healthy null shard as two spurious one-sided
    // rows, so those lakes take a NULL-SAFE join. But Spark rewrites
    // `<=>` into coalesce/isnull join keys, which cannot ride
    // KeyGroupedPartitioning — so the common case (LSH-routed, no
    // legacy root data: the shard key is provably non-null) keeps the
    // plain equi-join and with it the ZERO-EXCHANGE co-located plan
    // (GraftSpjSpec pins both shapes).
    val mine = side(this, "cnt", "h", "hs")
    val theirs = side(other, "other_cnt", "oh", "ohs")
    val verdict =
      (col("cnt") <=> col("other_cnt") && col("h") <=> col("oh") &&
        col("hs") <=> col("ohs")).as("in_sync")
    val nullableKey = cfg.partitionKey.isDefined ||
      formatScan(entries, st, None).roots.exists(_._2.isEmpty) ||
      other.formatScan(otherEntries, otherSt, None).roots.exists(_._2.isEmpty)
    val joined =
      if (nullableKey)
        mine.join(theirs, mine(partCol) <=> theirs(partCol), "full_outer")
          .select(coalesce(mine(partCol), theirs(partCol)).as(partCol),
            col("cnt"), col("other_cnt"), col("h"), col("oh"),
            col("hs"), col("ohs"))
      else mine.join(theirs, Seq(partCol), "full_outer")
    joined.select(col(partCol),
      coalesce(col("cnt"), lit(0L)).as("cnt"),
      coalesce(col("other_cnt"), lit(0L)).as("other_cnt"),
      verdict)
    // deliberately UNORDERED: an orderBy here would range-shuffle the
    // (tiny) result and spoil the plan's zero-exchange property —
    // callers that want shard order sort the |shards|-row output
  }

  /** ANTI-ENTROPY repair — make this REPLICA equal to `source` on
    * every shard [[diffStats]] convicts, touching nothing else. The
    * heal half of the audit/heal pair: the audit convicts per-shard
    * divergence (missing rows, extra rows, count-neutral tampering —
    * the fingerprint catches all three), and repairFrom rewrites
    * exactly the convicted partitions from the source's rows: a shard
    * the replica is missing is created, a shard the source no longer
    * has is dropped, and a healthy shard's files stay byte-in-place
    * (RepairSpec pins the untouched live set path-for-path). Columns
    * the source carries beyond this lake's stored set auto-[[evolve]]
    * first (the same validation as [[applyChanges]]); replica-only
    * extras null-fill in repaired shards — the source is
    * authoritative. Returns (convicted shards, rows rewritten).
    *
    * This is the recovery path when the change feed CANNOT replay:
    * the source [[vacuum]]ed past the replica's last sync point, or
    * the replica was mutated out of band ([[syncFrom]]/[[follow]]
    * stay the cheap steady-state at O(churn); repair is O(diverged
    * partitions) after a metadata-light audit). Same rewrite
    * machinery, locks, and sidecar commit as [[upsert]].
    *
    * 100 TB posture: the audit is the end-to-end storage-partitioned
    * join — zero exchanges, two aggregated rows per shard on the
    * wire — and the copy reads and writes ONLY convicted directories,
    * so a replica diverged in k of N shards repairs at ~k/N of a
    * re-clone's cost (re-cloning 100 TB is days of copy; repairing a
    * two-shard divergence is two directory rewrites). */
  def repairFrom(source: Lake): (Long, Long) =
    withWriterLock("repairFrom") {
      val (fs, entries, st0) = resolveState()
      requireWriteConfigMatch(fs, entries, st0)
      val convicted = diffStats(source).where(!col("in_sync"))
        .select(partCol).collect()
        .map(r => Option(r.get(0)).map(_.toString)).toSet
      if (convicted.isEmpty) (0L, 0L)
      else {
        val truth = source.readPartitions(convicted)
        // auto-evolve source extras under the held lock (no re-entrant
        // evolve(), same inline path + validation as applyChanges); the
        // rewrite commits over the state this commit wrote
        val known = (storedColsOf(st0) :+ partCol).map(_.toLowerCase).toSet
        val extra = truth.schema.fields
          .filterNot(f => known(f.name.toLowerCase))
        val st =
          if (extra.isEmpty) st0
          else {
            validateExtraCols(st0, extra.toSeq, "repairFrom")
            val evolved = st0.copy(extraCols = st0.extraCols ++
              extra.map(f => f.name -> f.dataType.catalogString))
            writeState(evolved)
            evolved
          }
        val colsNow = storedColsOf(st)
        val shape = canonicalSchemaOf(st).fields.map(f => f.name -> f.dataType).toMap
        val padded = (colsNow :+ partCol).filterNot(truth.columns.contains)
          .foldLeft(truth)((d, c) => d.withColumn(c, lit(null).cast(shape(c))))
        val content = graft.operators.Materialize.cut(
          padded.select((colsNow.map(col) :+ col(partCol)): _*))
        val n = content.count()
        rewritePartitions(fs, entries, st, convicted, content, n, "repairFrom")
        (convicted.size.toLong, n)
      }
    }

  // ------------------------------------------------ derived tables --

  /** Newest sidecar version on disk — the staleness anchor
    * [[DerivedTable.isStale]] and [[joinDerived]] compare against.
    * One root listing; 0 for a lake that has never committed. */
  private[graft] def latestSidecarVersion: Long = {
    val fs = fsOfRoot
    metaVersionsFrom(listRoot(fs)).map(_._1).foldLeft(0L)(math.max)
  }

  /** True iff the lake's ROW SET provably did not change since sidecar
    * `version` — the derived-table freshness test. Seal commits never
    * move rows (they roll an empty generation), and every row-changing
    * path commits a NON-seal version (appends stamp under the gate;
    * maintenance/DML write their rewrite commits), so the row set is
    * unchanged when every commit after `version` is a seal. Two guards
    * keep this safe, never merely plausible: the version chain since
    * `version` must be CONTIGUOUS (inline rotation retires old non-seal
    * versions — a hole could hide one, so a hole reads as changed), and
    * any unreadable sidecar reads as changed. Without this relaxation,
    * sibling feature tables could never be jointly fresh: every
    * [[deriveTo]] seals, so table A's refresh would permanently
    * "stale" table B under a strict latest-version equality. */
  private[graft] def rowSetUnchangedSince(version: Long): Boolean = {
    val fs = fsOfRoot
    rowSetUnchangedSinceFrom(fs, metaVersionsFrom(listRoot(fs)), version,
      scala.collection.mutable.Map.empty)
  }

  /** [[rowSetUnchangedSince]] against an already-taken listing, with a
    * caller-scoped parse memo — [[joinDerivedAll]] judges every
    * feature table from ONE listing snapshot and reads each immutable
    * seal sidecar once, not once per table. */
  private def rowSetUnchangedSinceFrom(fs: org.apache.hadoop.fs.FileSystem,
      versions: Seq[(Long, org.apache.hadoop.fs.Path)], version: Long,
      sealedMemo: scala.collection.mutable.Map[Long, Boolean]): Boolean = {
    // the ANCHOR must still be listed: sync points are seal commits
    // (rotation-exempt), so an absent anchor means vacuum retired it or
    // the base was deleted and recreated at this location — in both
    // cases "unchanged" is unprovable and a recreated base would
    // otherwise pass vacuously (its version counter restarted below the
    // sync point, leaving nothing "after" it)
    if (!versions.exists(_._1 == version)) return false
    val since = versions.filter(_._1 > version).sortBy(_._1)
    since.isEmpty || (
      since.map(_._1) == (version + 1 to since.last._1) &&
        since.forall { case (v, p) =>
          sealedMemo.getOrElseUpdate(v,
            try stateOfSidecar(fs, p).isSealed
            catch { case scala.util.control.NonFatal(_) => false })
        })
  }

  /** This lake's location as the filesystem qualifies it — the stable
    * identity derived sidecars record (`/tmp/x` and `file:/tmp/x` must
    * name one base). */
  private def qualifiedLocation: String = {
    val p = new org.apache.hadoop.fs.Path(cfg.location)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
  }

  /** Derive a CO-LOCATED feature table at `location`: compute
    * `f(rows)` over this lake's rows (f must pass `id` and `shard`
    * through untouched — filters and new feature columns are the whole
    * point, re-keying is a contract breach) and store the result
    * partitioned by the SAME shard values, so [[joinDerived]] serves
    * features back as a storage-partitioned join with zero exchange.
    * See [[DerivedTable]] for the layout and the 100 TB posture.
    *
    * INCREMENTAL by default: called again on an existing derived
    * location, it seals the base, diffs the change feed from the
    * recorded sync point ([[changesBetween]], netted), recomputes `f`
    * over only the INSERTED rows, and rewrites only the AFFECTED shard
    * directories (deleted/replaced ids drop, new feature rows land) —
    * O(base churn), never O(corpus). A no-churn refresh commits only a
    * new sync point. `rebuild = true` forces the full snapshot path
    * (required after a base [[reshard]], when `f`'s output schema
    * changed, or when [[vacuum]] retired the recorded sync point — all
    * refused loudly by the incremental path with this recovery named;
    * an automatic fallback would silently turn O(churn) into
    * O(corpus)).
    *
    * Seals the base each call (the change-feed sync-point discipline —
    * a refresh must diff two immutable states). Transform contract,
    * enforced at the door: output carries `id` (non-null string) and
    * `shard` (int, in `[0, numShards)` — range-guarded per row at
    * write); everything else is the caller's feature payload. Derived
    * tables key on LSH routing, so a user-keyed lake is refused. */
  def deriveTo(location: String, rebuild: Boolean = false)(
      f: DataFrame => DataFrame): DerivedTable = {
    require(cfg.partitionKey.isEmpty,
      s"deriveTo at ${cfg.location}: derived co-location keys on LSH " +
        "shard routing; this lake is user-keyed")
    // routing is checked by the seal() both refresh paths start with
    val qualBase = qualifiedLocation
    // self/overlap guard on QUALIFIED paths: a raw string compare would
    // let a trailing slash or a `file:` spelling of the lake's own root
    // through, and writeDerivedGen's Overwrite would then DESTROY lake
    // generations. Prefix containment is refused in both directions —
    // a derived tree inside the lake root would be swept as foreign
    // data by lake audits, and a lake inside the derived root would be
    // clobbered by a rebuild.
    val qualTarget = {
      val p = new org.apache.hadoop.fs.Path(location)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(p).toString
    }
    require(qualTarget != qualBase &&
      !qualTarget.startsWith(qualBase + "/") &&
      !qualBase.startsWith(qualTarget + "/"),
      s"deriveTo: the derived location ($qualTarget) must not be, or " +
        s"overlap, the lake itself ($qualBase)")
    val prior = DerivedTable.tryLoad(spark, location)
    prior match {
      case Some(d) if !rebuild => deriveIncremental(location, d, f, qualBase)
      case _ => deriveFull(location, prior, f, qualBase)
    }
  }

  /** Join this lake's rows with a [[deriveTo]] feature table on
    * `(shard, id)` — the CO-LOCATED join: with `spj` (default) both
    * sides read through the `graft` format in storage-partitioned
    * mode, so the join plans with ZERO exchange (DerivedSpec pins the
    * plan; q_derived_join oracle-checks the rows). At 100 TB that is
    * the difference between streaming co-located directory pairs and
    * re-hashing corpus + features across the wire.
    *
    * STALENESS is refused by default: a base commit after the derive
    * point means rows the feature table has never seen — an inner join
    * would silently drop them, a left join would silently null them.
    * Refresh first (`deriveTo` again — O(churn)), or pass
    * `allowStale = true` to accept the recorded snapshot's coverage
    * (changed rows join as if absent). `how` ∈ inner | left (left
    * serves base rows with no feature row — a filtering `f` — with
    * null features).
    *
    * The zero-exchange shape needs the session opted in (rows are
    * correct under ANY conf — Spark just shuffles when the opt-ins are
    * off): `spark.sql.sources.v2.bucketing.enabled` and
    * `...pushPartValues.enabled` (both default true on this line) plus
    * `spark.sql.requireAllClusterKeysForCoPartition=false` — the join
    * keys (shard, id) are a SUPERSET of the partition keys (shard),
    * and the strict default demands every join key be a partition key
    * (the same relaxation Iceberg's SPJ docs prescribe). `graft.Verify`
    * and perfbench sessions ship it; DerivedSpec pins the
    * zero-exchange plan under exactly these confs. */
  def joinDerived(derived: DerivedTable, how: String = "inner",
      spj: Boolean = true, allowStale: Boolean = false): DataFrame =
    joinDerivedAll(Seq(derived), how, spj, allowStale)

  /** [[joinDerived]] over SEVERAL feature tables at once — the
    * multi-feature-store read: every derived side reads key-grouped on
    * the same shard values, so the whole join CHAIN plans with zero
    * exchange under the SPJ opt-in (each pairwise join's keys contain
    * the shared partition key; DerivedSpec pins the chained plan).
    * Feature column names must be distinct across tables (Spark only
    * errors on reference, not on join) — that is the caller's naming
    * contract, same as any SELECT *. */
  def joinDerivedAll(derived: Seq[DerivedTable], how: String = "inner",
      spj: Boolean = true, allowStale: Boolean = false): DataFrame = {
    require(derived.nonEmpty, "joinDerivedAll: no derived tables given")
    require(Set("inner", "left", "left_outer")(how),
      s"joinDerived: how must be inner or left, got '$how' — other join " +
        "types have no feature-lookup reading")
    val qual = qualifiedLocation
    derived.foreach(_.requireMatches(this, qual))
    if (!allowStale) {
      // freshness = the ROW SET is provably unchanged since each
      // table's sync point ([[rowSetUnchangedSince]]): pure seals —
      // including sibling deriveTo refreshes — do not stale a table.
      // ONE listing snapshot + a shared sidecar-parse memo judge every
      // table consistently (N listings would each see a different
      // base state, and seal sidecars are immutable — one read each)
      val fs = fsOfRoot
      val versions = metaVersionsFrom(listRoot(fs))
      val memo = scala.collection.mutable.Map.empty[Long, Boolean]
      derived.foreach(d =>
        require(rowSetUnchangedSinceFrom(fs, versions, d.baseVersion, memo),
          s"derived table at ${d.location} is STALE: base " +
            s"${cfg.location} has row-changing (or unprovable) commits " +
            s"after its sync point ${d.baseVersion} — deriveTo again to " +
            "refresh (O(churn)), or pass allowStale = true (rows changed " +
            "since will join as if absent)"))
    }
    def readVia(location: String): DataFrame =
      spark.read.format("graft").option("spj", spj.toString).load(location)
    derived.foldLeft(readVia(cfg.location))((acc, d) =>
      acc.join(readVia(d.location), Seq("shard", "id"), how))
  }

  /** Full-snapshot derive: seal, transform, write ONE new generation,
    * commit. `prior` (a rebuild's predecessor) only advances the
    * generation counter so the new tree never collides with a live
    * one. */
  private def deriveFull(location: String, prior: Option[DerivedTable],
      f: DataFrame => DataFrame, qualBase: String): DerivedTable = {
    val v = seal()
    val feats = validateDerivedOutput(f(readAt(v)), location)
    val gen = prior.map(_.state.generation + 1).getOrElse(1L)
    writeDerivedGen(location, gen, feats)
    val st = DerivedTable.State(qualBase, v, cfg.dim, 1 << cfg.numHashes,
      cfg.seed, cfg.metric, gen, listDerivedDirs(location, gen),
      feats.schema.toDDL)
    DerivedTable.commit(spark, location, st)
    // the committed state IS the result — a re-load here would pay a
    // second listing and, under a lost commit race, could return a
    // rival writer's snapshot as our own
    new DerivedTable(spark, location, st)
  }

  /** Incremental refresh: diff the base change feed from the recorded
    * sync point, recompute `f` over inserted rows only, rewrite only
    * affected shard directories. Refuses (with the rebuild recovery)
    * what it cannot serve: a resharded base (feature rows carry no
    * vectors to re-derive shards from — and a reshard's rewrite nets
    * to zero in the feed, so silence here would keep stale-width
    * directories forever) and a changed feature schema (the pinned
    * read schema is the table). */
  private def deriveIncremental(location: String, d: DerivedTable,
      f: DataFrame => DataFrame, qualBase: String): DerivedTable = {
    d.requireMatches(this, qualBase)
    val v2 = seal()
    val delta = changesBetween(d.state.baseVersion, v2).cache()
    try {
      // bounded: ≤ numShards values (the upsert/deleteWhere pattern)
      val affected = delta.select(col(partCol)).distinct()
        .collect().map(_.getInt(0)).toSet
      val committed: DerivedTable.State = if (affected.isEmpty) {
        // no churn, but f's OUTPUT SCHEMA may still have drifted —
        // probe it on an empty frame (analysis only, no job) so a
        // changed transform is refused NOW with the rebuild recovery,
        // not silently accepted until the next churnful refresh
        val probe = validateDerivedOutput(
          f(delta.drop("change").limit(0)), location)
        require(probe.schema.toDDL == d.state.schemaDdl,
          s"deriveTo refresh at $location: f's output schema changed — " +
            s"recorded '${d.state.schemaDdl}' vs computed " +
            s"'${probe.schema.toDDL}'; the pinned read schema is the " +
            "table, so rebuild: deriveTo(location, rebuild = true)(f)")
        val st = d.state.copy(baseVersion = v2)
        DerivedTable.commit(spark, location, st)
        st
      } else {
        val inserts = delta.where(col("change") === "insert").drop("change")
        val newFeats = validateDerivedOutput(f(inserts), location)
        require(newFeats.schema.toDDL == d.state.schemaDdl,
          s"deriveTo refresh at $location: f's output schema changed — " +
            s"recorded '${d.state.schemaDdl}' vs computed " +
            s"'${newFeats.schema.toDDL}'; the pinned read schema is the " +
            "table, so rebuild: deriveTo(location, rebuild = true)(f)")
        // every touched id (deletes AND inserts — an upsert's insert
        // replaces its stale feature row) drops from the kept side
        val touched = delta.select(col(partCol), col("id")).distinct()
        val ordered = d.schema.fieldNames.toSeq
        val kept = d.read()
          .where(col(partCol).isin(affected.toSeq: _*))
          .join(touched, Seq(partCol, "id"), "left_anti")
          .select(ordered.map(col): _*)
        val gen = d.state.generation + 1
        writeDerivedGen(location, gen,
          kept.unionByName(newFeats.select(ordered.map(col): _*)))
        val keptDirs = d.state.live
          .filterNot(rel => affected.contains(DerivedTable.shardOf(rel)))
        val st = d.state.copy(
          baseVersion = v2, generation = gen,
          live = keptDirs ++ listDerivedDirs(location, gen))
        DerivedTable.commit(spark, location, st)
        st
      }
      new DerivedTable(spark, location, committed)
    } finally { delta.unpersist(); () }
  }

  /** Re-co-locate a derived feature table after THIS lake was
    * [[reshard]]ed — O(feature bytes + base churn), never re-running
    * `f` over the corpus (the full-rebuild recovery is O(recompute):
    * at 100 TB that is re-reading documents and re-running models for
    * rows whose features never changed).
    *
    * Feature rows carry no vectors, so the refined shard cannot be
    * derived locally; it is JOINED in from the base's (id, shard)
    * mapping — a 2-column projection of the lake, shuffled on `id`
    * against the feature bytes (a zero-exchange shape is impossible
    * here by construction: the extra routing bits live only with the
    * vectors, and the old and new layouts share no partitioning).
    *
    * The base may have taken REAL churn around the reshard too. The
    * change feed across a reshard is O(data) relocation noise
    * (delete+insert per moved row — see [[changesBetween]]), so this
    * re-nets the delta with the shard column EXCLUDED from row
    * identity ([[Lake.netInsertsDeletes]] excludeKeys): relocations
    * cancel, surviving rows are the genuine inserts/deletes/upserts.
    * `f` is recomputed over exactly those inserts; deleted/upserted
    * ids drop from the re-keyed side (deleted ids also vanish from
    * the mapping — the inner join enforces it). The commit advances
    * the sync point, so the next [[deriveTo]] refresh diffs from
    * AFTER the reshard and stays O(churn).
    *
    * When the widths already match there is nothing to re-key — the
    * call degrades to a plain [[deriveTo]] refresh. Refuses a foreign
    * table, a foreign base, and a changed output schema exactly like
    * the incremental refresh. */
  def reshardDerived(location: String)(
      f: DataFrame => DataFrame): DerivedTable = {
    require(cfg.partitionKey.isEmpty,
      s"reshardDerived at ${cfg.location}: derived co-location keys on " +
        "LSH shard routing; this lake is user-keyed")
    // routing is checked by the seal() (direct or via deriveTo) below
    val qualBase = qualifiedLocation
    val d = DerivedTable.load(spark, location)
    require(d.state.baseLocation == qualBase,
      s"derived table at $location was built from ${d.state.baseLocation}, " +
        s"not from $qualBase")
    require(d.state.dim == cfg.dim && d.state.seed == cfg.seed &&
      d.state.metric == cfg.metric,
      s"derived table at $location was built under routing config " +
        s"(dim=${d.state.dim}, seed=${d.state.seed}, " +
        s"metric=${d.state.metric}) but the base lake resolves " +
        s"(dim=${cfg.dim}, seed=${cfg.seed}, metric=${cfg.metric})")
    val newShards = 1 << cfg.numHashes
    require(d.state.numShards <= newShards,
      s"derived table at $location is co-located at ${d.state.numShards} " +
        s"shards, WIDER than the base's $newShards — reshard only " +
        "refines, so this table belongs to a different (wider) lake")
    if (d.state.numShards == newShards)
      return deriveTo(location)(f) // nothing to re-key: a plain refresh
    val v2 = seal()
    val rawDelta = changesBetween(d.state.baseVersion, v2)
    val ordered = d.schema.fieldNames.toSeq
    // relocation noise cancels with `shard` out of row identity; what
    // survives is the real churn (bounded by actual base mutations)
    val churn = Lake.netInsertsDeletes(
      rawDelta.where(col("change") === "insert").drop("change"),
      rawDelta.where(col("change") === "delete").drop("change"),
      excludeKeys = Set(partCol)).cache()
    try {
      val inserts = churn.where(col("change") === "insert").drop("change")
      val newFeats = validateDerivedOutput(f(inserts), location)
      require(newFeats.schema.toDDL == d.state.schemaDdl,
        s"reshardDerived at $location: f's output schema changed — " +
          s"recorded '${d.state.schemaDdl}' vs computed " +
          s"'${newFeats.schema.toDDL}'; the pinned read schema is the " +
          "table, so rebuild: deriveTo(location, rebuild = true)(f)")
      // the mapping join re-keys every surviving feature row; touched
      // ids (upserts AND deletes) drop from the kept side first —
      // their features are stale or orphaned
      val touched = churn.select(col("id")).distinct()
      val mapping = read().select(col("id"), col(partCol))
      val kept = d.read().drop(partCol)
        .join(touched, Seq("id"), "left_anti")
        .join(mapping, Seq("id"))
        .select(ordered.map(col): _*)
      val gen = d.state.generation + 1
      writeDerivedGen(location, gen,
        kept.unionByName(newFeats.select(ordered.map(col): _*)))
      val st = d.state.copy(
        baseVersion = v2, numShards = newShards, generation = gen,
        live = listDerivedDirs(location, gen))
      DerivedTable.commit(spark, location, st)
      new DerivedTable(spark, location, st)
    } finally { churn.unpersist(); () }
  }

  /** The deriveTo transform contract, enforced at the door: `id`
    * (string) and `shard` (int) present, per-row null/range guards in
    * the plan (codegen'd — no extra scan), feature columns reordered
    * so `shard` is last (the partition column's canonical slot in the
    * pinned schema). */
  private def validateDerivedOutput(out: DataFrame,
      location: String): DataFrame = {
    val cols = out.columns.toSeq
    require(cols.contains("id") && cols.contains(partCol),
      s"deriveTo at $location: the transform must pass 'id' and " +
        s"'$partCol' through (got columns ${cols.mkString(", ")}) — they " +
        "are the co-location key the join serves on")
    require(out.schema(partCol).dataType == IntegerType,
      s"deriveTo at $location: '$partCol' must stay the lake's int " +
        s"shard, got ${out.schema(partCol).dataType.simpleString}")
    require(out.schema("id").dataType == StringType,
      s"deriveTo at $location: 'id' must stay the lake's string id, " +
        s"got ${out.schema("id").dataType.simpleString}")
    val n = 1 << cfg.numHashes
    val others = cols.filterNot(_ == partCol).map(col)
    out.select((others :+ col(partCol)): _*)
      .withColumn("id",
        when(col("id").isNull, raise_error(lit(
          s"deriveTo at $location: null id — every feature row must " +
            "name the base row it describes")).cast(StringType))
          .otherwise(col("id")))
      .withColumn(partCol,
        when(col(partCol).isNull || col(partCol) < 0 || col(partCol) >= n,
          raise_error(concat(
            lit(s"deriveTo at $location: shard "),
            col(partCol).cast(StringType),
            lit(s" outside [0, $n) — the transform re-keyed rows off " +
              "their base shard, breaking co-location")))
            .cast(IntegerType))
          .otherwise(col(partCol)))
  }

  /** Write one derived generation tree — same clustering exchange,
    * writer ([[LakeWriter]]) and codec as the lake's own writes;
    * invisible until the sidecar commit names it. The tree is cleared
    * first: a crashed prior attempt strands an UNCOMMITTED tree under
    * the same next-generation name, and the retry must converge over it,
    * not refuse. */
  private def writeDerivedGen(location: String, gen: Long,
      rows: DataFrame): Unit = {
    // clear the WHOLE tree first: a crashed prior attempt's stranded
    // shard dirs must not survive under the same gen name and be
    // ADOPTED by the manifest listing below as committed data
    val dir = new org.apache.hadoop.fs.Path(s"$location/gen-$gen")
    DerivedTable.fsOf(spark, location).delete(dir, true)
    LakeWriter.write(byPartition(rows), dir, Some(partCol), cfg.codec)
    ()
  }

  private def listDerivedDirs(location: String, gen: Long): Seq[String] = {
    val fs = DerivedTable.fsOf(spark, location)
    val genDir = new org.apache.hadoop.fs.Path(s"$location/gen-$gen")
    if (!fs.exists(genDir)) Nil
    else fs.listStatus(genDir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      .map(s => s"gen-$gen/${s.getPath.getName}")
  }

  /** The canonical stored schema + partition column — what an empty
    * lake's scan serves (and what [[readFrom]] validates a non-empty
    * read against). */
  private[graft] def canonicalSchema: StructType = canonicalSchemaOf(readState())

  private def canonicalSchemaOf(st: LakeState): StructType =
    StructType(storedFieldsOf(st) :+ StructField(partCol,
      if (cfg.partitionKey.isEmpty) IntegerType else cfg.partitionKeyType))

  /** The `graft` DSv2 format's view of the current (`asOf = None`) or a
    * past snapshot, resolved from a root listing and the CURRENT state
    * the caller already decoded from it — a table load pays one LIST
    * and one sidecar GET (an `asOf` pin adds the GET of its version).
    *
    *  - `roots`: exactly the directories [[read]]/[[readAt]] would open
    *    (the live manifest's (dir, generation) entries, the whole
    *    current generation tree by rule, plus any pre-v2/root-level
    *    legacy data). Each pairs the directory path with its ESCAPED
    *    `key=value` partition-dir name (None for unpartitioned
    *    root-level legacy files), from which the format constructs the
    *    partition spec directly — partition INFERENCE cannot work on
    *    this layout (each generation strips to a different base and
    *    Spark refuses the "conflicting directory structures"), and the
    *    manifest already knows every value.
    *  - `rootFiles`: for each root whose (dir, generation) entry
    *    carries a sidecar-recorded file manifest, the exact files to
    *    plan ([[recordedFiles]]), keyed by the root path string. Roots
    *    absent from the map (the current generation tree, legacy data,
    *    pre-field sidecars) are listed by the index.
    *  - `schema`: the canonical schema with the CURRENT extras.
    *
    * Dead generations are never listed; a vacuumed `asOf` fails loudly
    * via [[vacuumCheckedStateAt]]. A stream-owned current generation is
    * REFUSED: its `_spark_metadata` manifest governs file visibility,
    * and a raw listing would serve uncommitted in-flight files — read
    * through [[read]] (which consults the manifest) or stop the ingest
    * stream first. */
  private[graft] def formatScan(entries: Seq[org.apache.hadoop.fs.FileStatus],
      current: LakeState, asOf: Option[Long]): Lake.FormatScan = {
    requireRouting(current)
    val fs = fsOfRoot
    val st = asOf.fold(current)(vacuumCheckedStateAt(_, fs, entries))
    if (streamOwned(st))
      throw new IllegalStateException(
        s"graft format at ${cfg.location}: the current generation is an " +
          "active streaming-sink tree (its _spark_metadata manifest " +
          "governs file visibility; a raw listing would serve " +
          "uncommitted files) — read through Lake.read() or stop the " +
          "ingest stream and roll a batch generation first.")
    // WIDTH-UNIFORMITY guard: the format serves partition values
    // straight from directory NAMES — it has no per-row re-derivation
    // hook — so a state holding directories at a narrower width than
    // the session (an in-flight reshard's pending set, or a
    // pre-reshard snapshot via asOf) would serve stale shard values
    // through SQL. Lake.read()/readAt() re-derive and stay available.
    st.reshard.foreach { r =>
      throw new IllegalStateException(
        s"graft format at ${cfg.location}: an incremental reshard " +
          s"${1L << r.fromBits} -> ${1L << r.toBits} shards is in " +
          s"flight (${r.pending.size} directories still at the old " +
          "width) — the SQL scan would serve stale directory-named " +
          "shard values; read through Lake.read() or finish the " +
          "reshard (reshard(newNumHashes) resumes).")
    }
    if (cfg.partitionKey.isEmpty)
      st.sidecarShards.filter(_ > 0).foreach(ns => require(
        ns == lsh.numShards,
        s"graft format at ${cfg.location}: this snapshot was routed " +
          s"into $ns LSH shards but the lake's current width is " +
          s"${lsh.numShards} (a reshard happened since) — the SQL " +
          "scan cannot re-route directory-named partition values; " +
          "read the snapshot through Lake.readAt, which re-derives " +
          "routing at the current width"))
    val dirs = liveEntries(st).map { case (d, g) =>
      new org.apache.hadoop.fs.Path(genPath(g), d).toString -> Some(d) }
    val legacy = rootLevelDataFrom(entries).map { p =>
      if (p.getName.contains("=")) p.toString -> Some(p.getName)
      else cfg.location -> None // bare root-level parquet: no partition
    }.distinct
    val rootFiles = recordedFiles(st).map { case ((d, g), fl) =>
      new org.apache.hadoop.fs.Path(genPath(g), d).toString -> fl.map(_._1) }
    Lake.FormatScan(dirs ++ legacy, rootFiles, canonicalSchemaOf(current))
  }

  /** The live data files as a frame — (file, partition, generation,
    * bytes, modified_ms), the capacity-planning / small-files view
    * behind the format's `option("view", "files")`. One root listing,
    * the resolved live set ([[resolveFiles]]: manifest-recorded
    * entries free, one LIST per current-generation directory), and one
    * LIST per pre-v2/legacy root-level partition directory, reported
    * as generation 0. */
  def filesView(): DataFrame = {
    import spark.implicits._
    val (fs, entries, st) = resolveState()
    def row(f: org.apache.hadoop.fs.FileStatus, part: Option[String],
        gen: Long) =
      (f.getPath.toString, part.orNull, gen, f.getLen, f.getModificationTime)
    val live = resolveFiles(fs, st, liveEntries(st), "files view").flatMap {
      case ((d, g), fl) =>
        fl.map(row(_, dirValue(d), g))
    }
    val legacy = rootLevelDataFrom(entries).flatMap { p =>
      if (p.getName.endsWith(".parquet"))
        // listRoot already fetched these statuses — reuse, no re-stat
        entries.find(_.getPath == p).toSeq.map(row(_, None, 0L))
      else if (!fs.exists(p)) Nil
      else dataFilesIn(fs, p)
        .map(row(_, dirValue(p.getName), 0L))
    }
    (live ++ legacy)
      .toDF("file", "partition", "generation", "bytes", "modified_ms")
  }

  /** The commit log as a frame: one row per sidecar version still on
    * disk — (version, last_update, generation, live_dirs). The
    * versions are [[readAt]]'s input; the latest row is what [[read]]
    * serves. A torn version (no commit) has no row. */
  def history(): DataFrame = {
    import spark.implicits._
    val fs = fsOfRoot
    metaVersions(fs).sortBy(_._1).flatMap { case (v, p) =>
      try {
        val st = stateOfSidecar(fs, p)
        Some((v, st.lastUpdate.getOrElse(""), st.generation,
          st.live.size.toLong, st.isSealed))
      } catch { case _: ControlFiles.Unparseable => None }
    }.toDF("version", "last_update", "generation", "live_dirs", "sealed")
  }

  /** The `last_update` stamp a specific sidecar version recorded — what
    * the change-feed source pins after a [[seal]] (reading the sealed
    * sidecar itself is immune to the re-read race where a writer lands
    * between the seal's lock release and a `lastUpdate()` call, which
    * would adopt the FOREIGN stamp as already-sealed and withhold its
    * delta). None once vacuum retires the version. */
  private[graft] def stampOfVersion(version: Long): Option[String] = {
    val fs = fsOfRoot
    metaVersions(fs).find(_._1 == version)
      .flatMap(vp => stateOfSidecar(fs, vp._2).lastUpdate)
  }

  /** The newest SEALED sync point still on disk, with the
    * `last_update` stamp its commit recorded — the DURABLE resume point
    * for change-feed subscribers: a restarting subscriber whose lake
    * stamp still equals this seal's stamp adopts it instead of sealing
    * a fresh sync point (an in-memory idle detector resets on every
    * restart, and each spurious seal is a permanently-retained sidecar
    * until vacuum). Control-plane cost: reads sidecars newest-first
    * until the first sealed one. */
  def latestSealed(): Option[(Long, String)] = {
    val fs = fsOfRoot
    metaVersions(fs).sortBy(-_._1).view
      .map { case (v, p) =>
        (v, try Some(stateOfSidecar(fs, p))
          catch { case _: ControlFiles.Unparseable => None })
      }
      .collectFirst { case (v, Some(st)) if st.isSealed =>
        (v, st.lastUpdate.getOrElse("")) }
  }

  /** The newest committed sidecar version — what [[read]] serves and
    * [[history]]'s last row; None before any write. */
  def currentVersion(): Option[Long] =
    metaVersions(fsOfRoot).map(_._1).maxOption

  /** True when the CURRENT generation is stream-owned (a Structured
    * Streaming sink's `_spark_metadata` manifest governs its file
    * visibility) — the layout [[seal]] refuses. Surfaced so the change
    * feed can refuse at SUBSCRIBE time with a clear error instead of
    * killing the stream on its first data-carrying trigger. */
  private[graft] def currentGenerationStreamOwned: Boolean = {
    val (fs, entries, st) = resolveState()
    holdsData(fs, entries, st) && streamOwned(st)
  }

  /** SEAL the live set — the change-feed SYNC POINT: one sidecar commit,
    * zero data movement, after which the sealed version denotes an
    * IMMUTABLE row set. The problem it solves: appends land inside the
    * current generation's tree below commit granularity, so an ordinary
    * version cannot tell "file present at my commit" from "file
    * appended after it". Sealing ROLLS the append target to a fresh
    * generation (every live directory keeps its existing location,
    * named in the manifest; the data path is untouched), so everything
    * the sealed version names is a directory no future write can add a
    * file to — the file-set diff of two sealed versions, or of a sealed
    * version against the current live set, is EXACT, which is what
    * [[changesSince]]/[[changesBetween]] ship. [[readAt]] of a sealed
    * version serves the frozen row set (later appends excluded — unlike
    * unsealed versions, whose whole-tree-live rule admits them).
    *
    * Cost: one sidecar write now; one extra union branch per seal on
    * later reads until a compact folds the generations back into one.
    * Sealed sidecars are exempt from the inline version rotation —
    * consumers hold sync points across arbitrarily many commits — and
    * are retired only by [[vacuum]] (pass `retainMs` to keep the
    * consumer window; a swept sync point fails loudly, never reads back
    * partial). Returns the sealed version number. */
  def seal(): Long = withWriterLock("seal") {
    val (fs, entries, st) = resolveState()
    requireRouting(st) // seal re-stamps the sidecar: never under a foreign config
    requireWriteConfigMatch(fs, entries, st) // both directions — the stamp is authoritative
    requireNoReshard(st, "seal")
    // a sealed snapshot names only manifest-governed directories: a
    // sink's uncommitted files or root-level data could not be frozen
    requireManifestGoverned("seal", st, entries)
    writeState(
      if (!holdsCurrentData(fs, st)) st
      else st.copy(generation = nextGen(st, entries), live = liveEntries(st),
        genRecorded = true),
      sealedCommit = true)
  }

  /** CHANGE FEED — every row the lake gained or lost since the sealed
    * sync point `version`, reading ONLY changed files: files in this
    * layout are immutable, never renamed, and deleted only by vacuum,
    * so (live files now) − (live files at the sync point) holds exactly
    * the inserted rows and the reverse difference exactly the removed
    * ones. The cost of a sync tracks what CHANGED, never lake size —
    * the incremental-consumer contract (downstream tokenizers, index
    * builds, embedding jobs) at 100 TB.
    *
    * `netted = true` (default) cancels rows identical on every stored
    * byte across the two sides — a row that merely moved files (a
    * compact, a rewrite's kept rows) vanishes, leaving the true
    * row-level delta: DELETE WHERE emits exactly the deleted rows,
    * upsert a delete+insert pair per replaced id, appends plain
    * inserts, and a pure compact nets to ZERO. The netting anti-joins
    * shuffle only changed-file rows. `netted = false` skips the joins
    * and reports raw file-level churn (cheaper; rewrites show their
    * kept rows on both sides).
    *
    * The upper side is the CURRENT live set (a racing in-flight append
    * may be partially visible, like any read — seal first and use
    * [[changesBetween]] for a fully reproducible delta). Fails loudly:
    * unknown version, a version that is not a [[seal]] sync point, or a
    * sync point whose directories vacuum already swept.
    *
    * @return changed rows with the stored columns plus
    *         `change ∈ {insert, delete}` */
  def changesSince(version: Long, netted: Boolean = true): DataFrame = {
    val (fs, entries, stNew) = resolveState()
    requireRouting(stNew)
    // a physical diff of the current state would count a sink's
    // uncommitted files
    requireManifestGoverned("changesSince", stNew, entries)
    val stOld = stateAt(version, fs, entries)
    requireSealedSync(version, stOld)
    requireNoReshard(stNew, "changesSince")
    changeFrame(
      fileOwners(fs, stOld, stOld.live, s"changesSince($version)"),
      fileOwners(fs, stNew, liveEntries(stNew), "changesSince: current state"),
      netted, extraFieldsOf(stNew))
  }

  /** [[changesSince]] between TWO sealed sync points — both sides
    * immutable, so the delta is exactly reproducible until vacuum
    * retires either version: the replayable feed a scheduled downstream
    * sync wants (`seal()` each cycle, ship `changesBetween(prev, cur)`,
    * advance). Same columns, netting, cost shape, and loud-failure
    * contract as [[changesSince]]. */
  def changesBetween(fromVersion: Long, toVersion: Long,
      netted: Boolean = true): DataFrame = {
    require(fromVersion <= toVersion,
      s"changesBetween($fromVersion, $toVersion): from must not exceed to — " +
        "a swapped pair would return a plausible-looking INVERTED delta " +
        "(inserts reported as deletes) with no other symptom")
    val (fs, entries, current) = resolveState()
    requireRouting(current)
    val stFrom = stateAt(fromVersion, fs, entries)
    requireSealedSync(fromVersion, stFrom)
    val stTo = stateAt(toVersion, fs, entries)
    requireSealedSync(toVersion, stTo)
    // both endpoints are sealed (never stream-owned): only root-level
    // data can escape the manifest here
    requireManifestGoverned("changesBetween", stTo, entries)
    changeFrame(
      fileOwners(fs, stFrom, stFrom.live, s"changesBetween($fromVersion, _)"),
      fileOwners(fs, stTo, stTo.live, s"changesBetween(_, $toVersion)"),
      netted,
      // CURRENT extras (not either endpoint's): a replayed pre-evolve
      // batch then null-fills the new columns instead of changing shape
      extraFieldsOf(current))
  }

  /** State at a specific sidecar version, from an already-taken root
    * listing; throws for unknown/vacuumed versions (shared by
    * [[readAt]] and the change feed). */
  private def stateAt(version: Long, fs: org.apache.hadoop.fs.FileSystem,
      entries: Seq[org.apache.hadoop.fs.FileStatus]): LakeState = {
    val versions = metaVersionsFrom(entries)
    val p = versions.collectFirst { case (v, path) if v == version => path }
      .getOrElse(throw new IllegalArgumentException(
        s"no sidecar version $version at ${cfg.location} (vacuumed, or never " +
          s"existed) — available: ${versions.map(_._1).sorted.mkString(", ")}"))
    stateOfSidecar(fs, p)
  }

  private def requireSealedSync(version: Long, st: LakeState): Unit =
    if (!st.isSealed) throw new IllegalArgumentException(
      s"version $version at ${cfg.location} is not a sealed sync point — " +
        "its generation tree could receive appends after the commit, so a " +
        "file diff against it cannot attribute them; take change-feed sync " +
        "points with seal()")

  /** (path, length, escaped-dir-name) of every data file of a SEALED
    * sync point — the DSv2 change stream's file-level resolution:
    * lengths drive its input-partition packing, dir names carry the
    * shard partition value each file's rows serve. */
  private[graft] def sealedFileStatuses(version: Long): Seq[(String, Long, String)] = {
    val (fs, entries, current) = resolveState()
    requireRouting(current)
    val st = stateAt(version, fs, entries)
    requireSealedSync(version, st)
    requireManifestGoverned("change stream", st, entries)
    resolveFiles(fs, st, st.live, s"change stream (version $version)")
      .flatMap { case ((d, _), fl) =>
        fl.map(s => (s.getPath.toString, s.getLen, d)) }
  }

  /** Every data file of `st`'s entries `dirs` ([[resolveFiles]]), as
    * file-path → (escaped-dir-name, owning generation, status): the
    * change feed diffs two sides by path string. A manifest-served
    * entry vacuum swept fails loudly when the delta scan is planned
    * ([[readFileSlice]]), never silently partial. */
  private def fileOwners(fs: org.apache.hadoop.fs.FileSystem, st: LakeState,
      dirs: Seq[(String, Long)], op: String)
      : Map[String, (String, Long, org.apache.hadoop.fs.FileStatus)] =
    resolveFiles(fs, st, dirs, op).flatMap { case ((d, g), fl) =>
      fl.map(s => s.getPath.toString -> (d, g, s))
    }.toMap

  /** Read an explicit file set ([[fileOwners]]' values) with the
    * canonical schema, planned straight from the statuses in hand
    * ([[graft.sources.GraftManifestFileIndex]]) — zero listings, and
    * only these files are opened: the change feed's cost contract.
    * Vacuum retires whole generation trees, so a slice naming a
    * generation gone from disk means vacuum swept past the sync point
    * (a sealed sidecar outlives the data it names): fail loudly, never
    * a partial delta. */
  private def readFileSlice(
      files: Iterable[(String, Long, org.apache.hadoop.fs.FileStatus)],
      extras: Seq[StructField] = Nil): DataFrame = {
    val partType =
      if (cfg.partitionKey.isEmpty) IntegerType else cfg.partitionKeyType
    val part = StructField(partCol, partType)
    // pinned schema: parquet null-fills a requested column absent from
    // a pre-evolve file, so both change-feed sides share one shape
    val data = StructType(storedFields ++ extras)
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], data.add(part))
    val fs = fsOfRoot
    files.map(_._2).toSeq.distinct.sorted.find(g => !fs.exists(genPath(g)))
      .foreach { g =>
        throw new IllegalStateException(
          s"reading manifest-recorded data files at ${cfg.location}: " +
            s"generation $g is no longer on disk — vacuum has swept past " +
            "this sync point (see vacuum(retainMs) for the consumer window)")
      }
    graft.sources.GraftManifestFileIndex.frame(spark, data, part,
      files.groupBy { case (d, _, st) => (st.getPath.getParent, d) }.toSeq
        .sortBy(_._1._1.toString).map { case ((dir, d), fl) =>
          (dir, graft.sources.GraftDataSource.partValue(Some(d), partType),
            fl.map(_._3).toArray.sortBy(_.getPath.toString))
        })
  }

  /** Assemble the change frame from the two resolved file→generation
    * maps: rows of files only the new side holds are inserts, rows of
    * files only the old side holds are deletes; `netted` cancels
    * byte-identical rows across the two (metadata compared as sorted
    * entries — maps are not join keys). */
  private def changeFrame(
      oldFiles: Map[String, (String, Long, org.apache.hadoop.fs.FileStatus)],
      newFiles: Map[String, (String, Long, org.apache.hadoop.fs.FileStatus)],
      netted: Boolean, extras: Seq[StructField] = Nil): DataFrame = {
    val ins = readFileSlice((newFiles -- oldFiles.keySet).values, extras)
    val del = readFileSlice((oldFiles -- newFiles.keySet).values, extras)
    // the slice's own column order IS the output shape (stored cols,
    // extras, partition col) — netting keys derive from it so an
    // evolved column participates in row identity (an upsert changing
    // only an extra must NOT cancel)
    val sliceCols = ins.columns.toSeq
    if (!netted)
      ins.withColumn("change", lit("insert"))
        .unionByName(del.withColumn("change", lit("delete")))
        .select((sliceCols.map(col) :+ col("change")): _*)
    else Lake.netInsertsDeletes(ins, del)
  }

  /** The routing width `st`'s LSH directories were written at: the
    * reshard's target mid-reshard, else the sidecar's declared shard
    * count (a pre-reshard snapshot), else the session's. A user-keyed
    * lake has no routing width: the session's. Reshard-PENDING entries
    * are the exception — they sit at the reshard's `fromBits`. */
  private def stateBitsOf(st: LakeState): Int =
    if (cfg.partitionKey.isDefined) cfg.numHashes
    else st.reshard.map(_.toBits)
      .orElse(st.sidecarShards.filter(_ > 0)
        .map(ns => java.lang.Long.numberOfTrailingZeros(ns)))
      .getOrElse(cfg.numHashes)

  /** Whether live entry (escaped-dir, generation) of `st` can hold a
    * row whose partition value is in `values` — the scope of
    * [[readPartitions]]. A user key matches its decoded value exactly
    * (None = the Hive default directory). An LSH entry written at width
    * `w` holds every row whose session-width shard agrees with its value
    * on the low `w` bits, so a reshard-pending entry (`fromBits`) or a
    * narrower snapshot's entry ([[stateBitsOf]]) matches through that
    * mask; a match on the directory name alone would drop them. */
  private def inScope(st: LakeState, values: Set[Option[String]])
      : ((String, Long)) => Boolean = {
    def value(d: String): Any = graft.sources.GraftDataSource.partValue(Some(d),
      if (cfg.partitionKey.isEmpty) IntegerType else cfg.partitionKeyType)
    if (cfg.partitionKey.isDefined)
      e => values.contains(Option(value(e._1)).map(_.toString))
    else {
      val shards = values.flatMap(_.flatMap(_.toIntOption))
      val bits = stateBitsOf(st)
      val pending = st.reshard.map(r => (r.pending.toSet, r.fromBits))
      e => value(e._1) match {
        case v: java.lang.Integer =>
          val w = pending.collect { case (p, from) if p(e) => from }
            .getOrElse(bits)
          shards.exists(s => (s & ((1 << w) - 1)) == v.intValue)
        case _ => false
      }
    }
  }

  private def readFrom(st: LakeState,
      rootEntries: Seq[org.apache.hadoop.fs.FileStatus],
      scope: Option[Set[Option[String]]] = None): DataFrame = {
    val partType =
      if (cfg.partitionKey.isEmpty) IntegerType else cfg.partitionKeyType
    val fs = fsOfRoot
    // ROUTING-WIDTH resolution (LSH lakes): a state written at a
    // NARROWER width than this session — a pre-reshard snapshot via
    // readAt, or the pending directories of an in-flight reshard —
    // serves its rows with the missing high hyperplane bits RE-DERIVED
    // per row (exact: planes are prefix-stable in the seeded sequence,
    // see Lsh.shardColFrom), so every read is width-uniform at the
    // session's width. A state WIDER than the session is refused by
    // the require below (bits cannot be un-derived). Steady-state
    // reads take the `entryBits >= cfg.numHashes` short-circuit: zero
    // added work. The transient cost is honest and self-shrinking:
    // pending branches lose directory pruning (the filter lands
    // post-derivation) until their reshard step completes. Note this
    // is deliberately LOOSER than the write-side width check
    // ([[requireWriteConfigMatch]]): a narrower state is legal here (it
    // derives up — that is what mid-reshard pending sets and
    // pre-reshard snapshots are), and a stale old-width instance
    // reading a resharded lake is still refused.
    val stateBits = stateBitsOf(st)
    require(stateBits <= cfg.numHashes,
      s"read at ${cfg.location}: this snapshot was routed into " +
        s"${1L << stateBits} shards but the session's width is " +
        s"${lsh.numShards} — a wider snapshot cannot be served " +
        "narrower; construct the Lake at the snapshot's width")
    val reshardPending: Set[(String, Long)] =
      st.reshard.map(_.pending.toSet).getOrElse(Set.empty)
    def widen(df: DataFrame, entryBits: Int): DataFrame =
      if (cfg.partitionKey.isDefined || entryBits >= cfg.numHashes ||
          // foreign/legacy branches may lack the columns — pass them
          // through for the schema validation below to reject with
          // the full diff instead of failing on a missing reference
          !df.columns.contains(partCol) || !df.columns.contains("vector"))
        df
      else df.withColumn(partCol,
        (col(partCol) + lsh.shardColFrom(col("vector"), entryBits))
          .cast(IntegerType))
    // SCHEMA RESOLUTION, two regimes (round 11 — previously every
    // branch ran mergeSchema):
    //
    //  - MANIFEST-GOVERNED branches (generation trees) read with the
    //    SIDECAR-PINNED schema, zero footer I/O at plan time. The old
    //    posture merged every live footer ON EVERY READ to catch an
    //    out-of-contract foreign file — an O(live files) distributed
    //    planning job per query, which at object-store scale is the
    //    difference between millisecond and minute planning. The
    //    write path already guarantees the shape (one withDerived,
    //    requireWriteConfigMatch both directions), the SQL format has
    //    always served the pinned schema, and drift detection moved
    //    to [[validate]]'s `drift_cols` audit — the one place an
    //    O(files) footer sweep belongs. A foreign file inside a
    //    generation now reads null-padded/projected instead of
    //    failing the read; validate() convicts it.
    //  - The LEGACY/ROOT branch (pre-v2 flat lakes, foreign data
    //    dropped at the location) keeps mergeSchema + the final
    //    column-set validation below: that data is NOT
    //    manifest-governed, so a foreign schema must fail loudly
    //    with the full diff, never bootstrap silently.
    // the reference round-trips last_update (+ index attrs) through
    // file metadata readable off the frame (index.py:296-305) — the
    // pinned read keeps that surface by stamping the SIDECAR's attrs
    // onto the timestamp field (the sidecar is the canonical fast
    // path; with footer merging the surfaced stamp was whichever
    // file's footer won the merge, the sidecar's latest is strictly
    // better defined). The raw per-file footers still carry their
    // write-time stamps (FooterMetaSpec reads them with parquet-hadoop
    // directly).
    val pinnedFields = storedFieldsOf(st).map {
      case f if f.name == "timestamp" =>
        val md = new MetadataBuilder()
          .putString("graft.last_update", st.lastUpdate.getOrElse(""))
          .putLong("graft.dim", cfg.dim.toLong)
          .putString("graft.metric", cfg.metric)
          .build()
        f.copy(metadata = md)
      case f => f
    }
    val pinned = StructType(pinnedFields :+ StructField(partCol, partType))
    def branch(basePath: Option[String], paths: Seq[String]): DataFrame = {
      var r = spark.read.option("mergeSchema", "true")
      basePath.foreach(b => r = r.option("basePath", b))
      // pin the partition column's type: a branch holding only the Hive
      // null-sentinel directory would otherwise infer a different type
      // and poison the union (cast is a no-op when types already agree,
      // so pruning literals still reach the scan). A foreign branch may
      // lack the column entirely — pass it through for the schema
      // validation below to reject with the full diff.
      val raw = r.parquet(paths: _*)
      if (raw.columns.contains(partCol))
        raw.withColumn(partCol, col(partCol).cast(partType))
      else raw
    }
    val cur = genPath(st.generation)
    // a SEALED state is manifest-only by contract ([[seal]]): its
    // generation tree was empty at commit, and anything in it NOW is a
    // later append (or an in-flight write racing this read) that the
    // sync point must not serve — the frozen-snapshot semantics the
    // change feed diffs against
    val curPresent = !st.isSealed && rootEntries.exists(s =>
      s.isDirectory && s.getPath.getName == cur.getName)
    // a stream-owned current generation is read through its
    // `_spark_metadata` manifest (a path read is the only one that
    // honors it), with the CANONICAL schema instead of footer
    // inference: between stream start and batch 0's commit that list
    // is legitimately EMPTY — inference would throw "unable to infer
    // schema" at a perfectly healthy moment, where the truthful answer
    // is an empty slice. The sink writes exactly withDerived's
    // columns, so no drift can hide here.
    val curSinkOwned = curPresent && streamOwned(st)
    val sinkBranch =
      if (curSinkOwned && treeHasData(fs, cur, knownExists = true))
        Seq(widen(spark.read.schema(pinned).parquet(cur.toString), stateBits))
      else Nil
    // every other live entry plans from its resolved statuses
    // ([[resolveFiles]]: manifest-recorded entries with zero listings,
    // the current generation's directories with one LIST each) — one
    // branch per (generation, reshard membership): pending entries were
    // routed at the reshard's FROM width and re-derive the missing
    // bits; everything else is at the state's width (mid-reshard, that
    // is the target width — completed steps and post-transition
    // appends). The current generation's branch leads the union. A
    // `scope` ([[readPartitions]]) drops every entry that cannot hold a
    // scoped value BEFORE resolution, so the LISTs follow the scope;
    // the sink and legacy branches stay whole, and the scope's
    // predicate ([[affectedPartPred]]) on top of the union cuts every
    // branch to exactly the scoped rows.
    val keep = scope.map(inScope(st, _))
    val entries =
      (if (curSinkOwned || !(curPresent || st.genRecorded))
        st.live.filter(_._2 != st.generation)
      else liveEntries(st))
        .filter(e => keep.forall(_(e)))
    val genBranches = resolveFiles(fs, st, entries, "read")
      .groupBy { case (e, _) => (e._2, reshardPending.contains(e)) }
      .toSeq.sortBy { case ((g, isPending), _) =>
        (g != st.generation, g, isPending) }
      .map { case ((g, isPending), resolved) =>
        widen(graft.sources.GraftManifestFileIndex.frame(spark,
          StructType(pinnedFields), StructField(partCol, partType),
          resolved.sortBy(_._1._1).map { case ((d, _), fl) =>
            (fs.makeQualified(new org.apache.hadoop.fs.Path(genPath(g), d)),
              graft.sources.GraftDataSource.partValue(Some(d), partType),
              fl.toArray)
          }),
          if (isPending) st.reshard.get.fromBits else stateBits)
      }
    // pre-v2 flat tree or foreign data at the root: a dedicated branch,
    // so legacy lakes stay readable and foreign schemas fail validation
    val rootData = rootLevelDataFrom(rootEntries)
    val legacyBranch =
      if (rootData.isEmpty) Nil
      else Seq(widen(branch(Some(cfg.location), rootData.map(_.toString)),
        stateBits))
    // SCHEMA EVOLUTION null-fill: a branch whose generations predate an
    // evolve() lacks the registered extras — pad with typed nulls so
    // the union holds one shape. Only REGISTERED columns are padded;
    // a foreign column still fails the validation below.
    def pad(df: DataFrame): DataFrame =
      extraFieldsOf(st).filterNot(f => df.columns.contains(f.name))
        .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    val branches = (sinkBranch ++ genBranches ++ legacyBranch).map(pad)
    if (branches.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], pinned)
    val df = branches.reduce(_ unionByName _)
    val got = df.columns.toSet
    val want = storedColsOf(st).toSet + partCol
    require(got == want, s"schema mismatch: got $got want $want")
    scope.fold(df)(v => df.where(affectedPartPred(v)))
  }

  private def distCol(q: Seq[Double]): Column = cfg.metric match {
    case "cosine" => V.cosineDist(col("vector"), V.vecLit(q))
    case "l2"     => V.l2Dist(col("vector"), V.vecLit(q))
    case "dot"    => -V.dot(col("vector"), V.vecLit(q)) // nearest = max dot
  }

  /** Pair-distance under `cfg.metric` for a scored row holding
    * (vec, nrm) against a joined query holding (qvec, qnrm) — the ONE
    * definition every batch/stream serve path shares ([[topKBatch]],
    * [[topKBatchRouted]], [[topKStream]], [[topKStreamRouted]],
    * [[topKStreamExpiring]]); a metric addition or guard fix lands in
    * all of them at once. Cosine goes through the zero-norm-guarded
    * precomputed-norms kernel (one degenerate row must not ANSI-fail
    * the scan); round6z at the call sites keeps self-pair dist +0.0. */
  private def pairDist: Column = cfg.metric match {
    case "cosine" => lit(1.0) -
      V.cosineSimPre(V.dot(col("vec"), col("qvec")), col("nrm"), col("qnrm"))
    case "l2"  => V.l2Dist(col("vec"), col("qvec"))
    case "dot" => -V.dot(col("vec"), col("qvec")) // nearest = max dot
  }

  /** The shared batch tail: bounded-heap top-k per qid, exploded to
    * (qid, rank, id, dist) rows. */
  private def batchTopKTail(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("qid")
      .agg(graft.expressions.TopKAggregate.topK(struct(col("dist"), col("id")), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("p.id").as("id"), col("p.dist").as("dist"))
      .orderBy("qid", "rank")

  /** Single-probe kNN: prune to the LSH-routed shard (a *literal*
    * predicate so Catalyst prunes partition directories at planning),
    * then exact top-k — `TakeOrderedAndProject` does per-partition heap
    * top-k on executors + driver merge, structurally the reference's
    * per-shard search + merge (index.py:499-537). */
  def topK(q: Seq[Double], k: Int): DataFrame =
    topKRouted(q, k, probeShards(q, 1))

  /** Multi-probe variant: search all shards within Hamming distance 1 of
    * the routed shard (IVF-style recall/cost dial; still prunes 247 of
    * 256 directories at 8 hashes). */
  def topKMultiProbe(q: Seq[Double], k: Int): DataFrame =
    topKRouted(q, k, probeShards(q, 1 + cfg.numHashes))

  /** Exact kNN over the whole lake (no pruning). */
  def topKExact(q: Seq[Double], k: Int): DataFrame =
    topKWhere(q, k, lit(true))

  /** Batch kNN: many queries in ONE scan of the lake. The query set is
    * broadcast; per-query top-k uses the bounded-heap aggregate, so the
    * shuffle carries at most k rows per query per executor — the batch
    * shape the reference's one-query-at-a-time API cannot express
    * (SURVEY.md §3.3). Honors `cfg.metric` like every other retrieval
    * path (previously cosine-only — the one API that ignored the
    * config). Returns (qid, rank, id, dist). */
  def topKBatch(queries: Seq[(Long, Seq[Double])], k: Int): DataFrame = {
    if (queries.isEmpty) return emptyBatchResult
    import spark.implicits._
    val qdf = queries.toDF("qid", "qvec")
      .select(col("qid"), col("qvec"), V.l2Norm(col("qvec")).as("qnrm"))
    batchTopKTail(
      read()
        .select(col("id"), V.asDouble(col("vector")).as("vec"),
          V.l2Norm(col("vector")).as("nrm"))
        .crossJoin(broadcast(qdf))
        .select(col("qid"), col("id"), V.round6z(pairDist).as("dist")),
      k)
  }

  /** The empty (qid, rank, id, dist) frame — the batch-kNN result shape
    * with no rows; the zero-query answer (an `isin()` with zero operands
    * or a zero-row broadcast side is an untested edge on the serving
    * path, so empty batches short-circuit here instead). */
  private def emptyBatchResult: DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("qid", LongType), StructField("rank", IntegerType),
        StructField("id", StringType), StructField("dist", DoubleType))))

  /** A query's probe sequence, nearest-first: its routed shard, then the
    * `numHashes` Hamming-distance-1 neighbors in bit order — the same
    * ladder [[topKMultiProbe]] climbs all the way up. `nprobe` takes a
    * prefix: 1 = single-probe ([[topK]]'s recall contract),
    * 1 + numHashes = the full Hamming≤1 ball ([[topKMultiProbe]]'s). */
  private def probeShards(qv: Seq[Double], nprobe: Int): Seq[Int] = {
    val routed = lsh.shardOf(qv)
    (routed +: (0 until cfg.numHashes).map(j => routed ^ (1 << j))).take(nprobe)
  }

  private def requireNprobe(nprobe: Int): Unit =
    require(nprobe >= 1 && nprobe <= 1 + cfg.numHashes,
      s"nprobe must be in [1, ${1 + cfg.numHashes}] (routed shard + one " +
        s"flip per hyperplane); got $nprobe")

  /** [[topKBatch]] with per-query LSH routing — the batch shape that
    * survives 100 TB. Two cuts over the plain batch scan:
    *
    *  1. the scan prunes to the UNION of the queries' probed shard
    *     directories (a literal IN predicate resolved at planning —
    *     a 100-query batch touches ≤ 100·nprobe of 2^numHashes
    *     directories);
    *  2. the broadcast join is an EQUI-join on shard, so each row
    *     meets only the queries probing its shard —
    *     Σ_s rows_s × queries_probing_s distance evaluations instead
    *     of the cross join's rows × queries.
    *
    * `nprobe` is the recall/cost dial ([[probeShards]]): the default 1
    * keeps [[topK]]'s single-probe contract per query (a query routed
    * to an empty shard returns no rows, exactly like topK);
    * `1 + cfg.numHashes` gives exactly [[topKMultiProbe]]'s Hamming≤1
    * recall, still as ONE scan for the whole batch — the equi-join
    * shape is unchanged, the broadcast side just carries nprobe rows
    * per query. Returns (qid, rank, id, dist). */
  def topKBatchRouted(queries: Seq[(Long, Seq[Double])], k: Int,
      nprobe: Int = 1): DataFrame = {
    require(cfg.partitionKey.isEmpty,
      "topKBatchRouted routes by the LSH shard column — a user-partitioned " +
        "lake has no LSH routing; use topKBatch")
    requireNprobe(nprobe)
    if (queries.isEmpty) return emptyBatchResult
    import spark.implicits._
    val probed = for {
      (qid, qv) <- queries
      shard <- probeShards(qv, nprobe)
    } yield (qid, qv, shard)
    val qdf = probed.toDF("qid", "qvec", "qshard")
      .select(col("qid"), col("qvec"), col("qshard"),
        V.l2Norm(col("qvec")).as("qnrm"))
    val shards = probed.map(_._3).distinct
    batchTopKTail(
      readPartitions(shardValues(shards))
        .select(col("id"), col(partCol),
          V.asDouble(col("vector")).as("vec"), V.l2Norm(col("vector")).as("nrm"))
        .join(broadcast(qdf), col(partCol) === col("qshard"))
        .select(col("qid"), col("id"), V.round6z(pairDist).as("dist")),
      k)
  }

  /** Continuous retrieval: serve a STREAM of query vectors against the
    * lake — the streaming twin of [[topKBatch]], and a surface the
    * reference's blocking one-query API cannot express. Each
    * micro-batch of queries costs one lake scan (the stream-static
    * join's static side), and per-query state is the bounded top-k
    * heap ([[graft.expressions.TopKAggregate]]), so state never grows
    * past k rows per query id no matter how long the stream runs.
    * Late-arriving refinements of a qid update its row (update output
    * mode). Honors `cfg.metric` like [[topKBatch]].
    *
    * STATE-LIFECYCLE CONTRACT: state here is bounded per id but keyed
    * by qid FOREVER — over an unbounded stream of distinct ids it
    * grows with the id universe. Right for a bounded/recycled id space
    * (session ids, tenant slots); for open-ended id streams use
    * [[topKStreamExpiring]], which retires an id's state once it has
    * been idle past an event-time TTL.
    *
    * The static side is the lake AT PLAN TIME (a parquet plan freezes
    * its file listing): restart the query to serve post-start ingests.
    *
    * @param queries streaming frame with (qid: long, qvec: array)
    * @return streaming frame (qid, top: array<struct<dist,id>>) —
    *         explode downstream if flat rows are wanted */
  def topKStream(queries: DataFrame, k: Int): DataFrame = {
    val lakeV = read().select(
      col("id"), V.asDouble(col("vector")).as("vec"),
      V.l2Norm(col("vector")).as("nrm"), lit(1).as("__j"))
    val q = queries.select(col("qid"),
      col("qvec").cast(ArrayType(DoubleType)).as("qvec"),
      lit(1).as("__jq"))
      .withColumn("qnrm", V.l2Norm(col("qvec")))
    // a literal equi-key instead of crossJoin: stream-static INNER
    // equi-joins are supported by the streaming planner, cross joins
    // are not — same plan (broadcast the 1-key side), same rows
    q.join(lakeV, col("__jq") === col("__j"))
      .select(col("qid"), col("id"), V.round6z(pairDist).as("dist"))
      .groupBy("qid")
      .agg(graft.expressions.TopKAggregate.topK(struct(col("dist"), col("id")), k).as("top"))
  }

  /** [[topKStream]] with per-query LSH routing — the serve-path twin of
    * [[topKBatchRouted]]: the stream-static join becomes an EQUI-join
    * on the shard value. The static side carries its stored shard
    * column; each incoming query derives `shardOf(qvec)` through the
    * same hyperplane expression ingest routes with, so a micro-batch's
    * queries pair only with the lake rows of their routed shards —
    * Σ_s rows_s × queries_s distance evaluations, never
    * rows × queries. The static side remains the whole-lake plan (its
    * file listing froze at plan time; partition pruning cannot follow a
    * per-batch dynamic key), so the cut is pairing count and shuffle
    * volume, and the join gets a real equi-key to hash on instead of
    * the degenerate single-key join. `nprobe` is the same recall/cost
    * dial as [[topKBatchRouted]]'s, derived IN THE PLAN: the probe
    * ladder (routed shard, then each single-bit flip) is a literal
    * array expression over the routed value, sliced to nprobe and
    * exploded — each query becomes nprobe probe rows on the stream
    * side, the equi-join shape unchanged. Default 1 keeps [[topK]]'s
    * single-probe contract per query (a query routed to an empty shard
    * emits no row); 1 + numHashes gives [[topKMultiProbe]]'s Hamming≤1
    * recall. State stays the bounded per-qid heap (≤ k rows) — probes
    * of one qid merge into one heap; compose with
    * [[topKStreamExpiring]]'s ttl semantics by watermarking upstream if
    * the id space is open-ended. */
  def topKStreamRouted(queries: DataFrame, k: Int, nprobe: Int = 1): DataFrame = {
    require(cfg.partitionKey.isEmpty,
      "topKStreamRouted routes by the LSH shard column — a " +
        "user-partitioned lake has no LSH routing; use topKStream")
    requireNprobe(nprobe)
    val lakeV = read().select(
      col("id"), V.asDouble(col("vector")).as("vec"),
      V.l2Norm(col("vector")).as("nrm"), col(partCol))
    val probeLadder = array(
      (col("__routed") +:
        (0 until cfg.numHashes).map(j => col("__routed").bitwiseXOR(lit(1 << j)))): _*)
    val q = queries.select(col("qid"),
      col("qvec").cast(ArrayType(DoubleType)).as("qvec"))
      .withColumn("qnrm", V.l2Norm(col("qvec")))
      .withColumn("__routed", lsh.shardCol(col("qvec")))
      .withColumn("qshard", explode(slice(probeLadder, 1, nprobe)))
      .drop("__routed")
    q.join(lakeV, col("qshard") === col(partCol))
      .select(col("qid"), col("id"), V.round6z(pairDist).as("dist"))
      .groupBy("qid")
      .agg(graft.expressions.TopKAggregate.topK(struct(col("dist"), col("id")), k).as("top"))
  }

  /** [[topKStream]] with a STATE LIFECYCLE: per-query state (≤ k rows)
    * is dropped once the query id has been idle past `ttl` of EVENT
    * time — over an unbounded stream of distinct query ids, plain
    * [[topKStream]]'s state grows with the id universe forever, while
    * this variant's state is bounded by the LIVE query set (ids seen
    * within the ttl window). Queries carry an event-time column
    * `qtime`; `watermarkDelay` is the usual lateness allowance, and
    * expiry advances with the watermark — deterministic under
    * replay/backfill, no wall-clock coupling. Late refinements of a
    * live qid still merge into its bounded heap (update semantics,
    * like topKStream); a refinement arriving AFTER its id expired
    * starts a fresh heap over that micro-batch's scan, the only
    * honest answer once the old state is gone.
    *
    * @param queries streaming frame with (qid: long, qvec: array,
    *        qtime: timestamp)
    * @return streaming frame (qid, top: array<struct<dist,id>>),
    *         update output mode */
  def topKStreamExpiring(queries: DataFrame, k: Int,
      ttl: java.time.Duration,
      watermarkDelay: String = "0 seconds"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, GroupState, OutputMode}
    import spark.implicits._
    val lakeV = read().select(
      col("id"), V.asDouble(col("vector")).as("vec"),
      V.l2Norm(col("vector")).as("nrm"), lit(1).as("__j"))
    val q = queries
      .withWatermark("qtime", watermarkDelay)
      .select(col("qid"), col("qtime"),
        col("qvec").cast(ArrayType(DoubleType)).as("qvec"),
        lit(1).as("__jq"))
      .withColumn("qnrm", V.l2Norm(col("qvec")))
    val scored = q.join(lakeV, col("__jq") === col("__j"))
      .select(col("qid"), col("qtime"), col("id"), V.round6z(pairDist).as("dist"))
      .as[(Long, java.sql.Timestamp, String, Double)]
    val ttlMs = ttl.toMillis
    scored.groupByKey(_._1)
      .flatMapGroupsWithState[TopKServeState, (Long, Seq[(Double, String)])](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (qid: Long, rows: Iterator[(Long, java.sql.Timestamp, String, Double)],
            state: GroupState[TopKServeState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var maxEvent = Long.MinValue
            val incoming = rows.map { case (_, t, id, d) =>
              if (t.getTime > maxEvent) maxEvent = t.getTime
              (d, id)
            }.toSeq
            // bounded merge: old heap ∪ new scores, keep the k best —
            // state never exceeds k entries per live qid
            val prev = state.getOption
            val merged = (prev.map(_.top).getOrElse(Nil) ++ incoming)
              .sortBy { case (d, id) => (d, id) }.take(k)
            // idle-expiry clock: the deadline only ever moves FORWARD
            // (a late-but-admitted refinement carries an OLDER event
            // time — recomputing from it alone would pull the deadline
            // back and expire the id early), floored above the current
            // watermark (Spark requires a future timestamp)
            val deadline = math.max(
              prev.map(_.deadlineMs).getOrElse(Long.MinValue),
              maxEvent + ttlMs)
            state.update(TopKServeState(merged, deadline))
            state.setTimeoutTimestamp(
              math.max(deadline, state.getCurrentWatermarkMs() + 1))
            Iterator.single(qid -> merged)
          }
      }
      .toDF("qid", "top")
      // tuple encoding names the struct fields _1/_2 — present the same
      // (dist, id) shape as topKStream
      .select(col("qid"), transform(col("top"),
        e => struct(e("_1").as("dist"), e("_2").as("id"))).as("top"))
  }

  /** Two-stage compressed retrieval over the MATERIALIZED `packed`
    * column (requires `cfg.packSignBits`): a coarse Hamming top-`coarseK`
    * whose scan reads only (id, packed) — 8 bytes of vector data per row
    * instead of dim×4, which is where the 32× compression pays off at
    * 100 TB — then an exact rerank that touches full-precision vectors
    * for ≤ coarseK rows (the coarse id set is broadcast back as a
    * semi-join filter). Both stages are TakeOrderedAndProject heaps;
    * recall/cost dial = coarseK. */
  def topKCompressed(q: Seq[Double], k: Int, coarseK: Int = 100): DataFrame = {
    require(cfg.packSignBits,
      "topKCompressed needs a materialized packed column: set packSignBits = true")
    val qWord = V.signPackOf(q)
    val base = read() // both stages score one snapshot
    val coarse = base
      .select(col("id"),
        bit_count(col("packed").bitwiseXOR(lit(qWord))).cast("int").as("hamming"))
      .orderBy(col("hamming"), col("id"))
      .limit(coarseK)
      .select("id")
    base
      .join(broadcast(coarse), Seq("id"))
      .withColumn("dist", V.round6z(distCol(q)))
      .orderBy(col("dist"), col("id"))
      .limit(k)
  }

  /** Two-stage PQ retrieval over the MATERIALIZED `pq_code` column
    * (requires `cfg.pqCodebooks`): the coarse stage ranks by asymmetric
    * distance — per subspace, unpack 8 bits of the stored word and look
    * up a literal query-distance table — reading only (id, pq_code),
    * 8 stored bytes of vector data per row; then the exact rerank
    * touches full-precision vectors for ≤ coarseK rows. Same shape as
    * [[topKCompressed]], but the coarse metric is LEARNED (codebooks)
    * instead of data-independent sign bits — tighter candidates at the
    * same stored size. */
  def topKPq(q: Seq[Double], k: Int, coarseK: Int = 100): DataFrame =
    topKPqWhere("topKPq", q, k, coarseK, None)

  /** [[topKPq]] with LSH shard pruning composed in — the full serving
    * stack a 100 TB ANN deployment actually runs, each stage cutting
    * what the next one reads:
    *
    *  1. ROUTE: a literal shard predicate prunes partition directories
    *     at planning — the candidate universe shrinks to 1 (or
    *     1+numHashes under `multiProbe`) of 2^numHashes shards before
    *     a single byte is read;
    *  2. COARSE: the ADC scan inside the routed shards reads only
    *     (id, pq_code) — 8 stored bytes of vector data per row;
    *  3. RERANK: full-precision vectors are touched for ≤ `coarseK`
    *     rows, also only inside the routed shards.
    *
    * Recall dials: `multiProbe` (widens stage 1 to the routed shard's
    * Hamming-distance-1 neighbors — 1+numHashes of 2^numHashes shards,
    * the [[topKMultiProbe]] trade; never the whole lake) and `coarseK`
    * (widens stage 3). With `coarseK` ≥ rows the result reduces to
    * EXACT retrieval over the probed shard set — single-probe that is
    * [[topK]]'s answer, multiprobe [[topKMultiProbe]]'s; PqSpec pins
    * the single-probe contract. */
  def topKPqRouted(q: Seq[Double], k: Int, coarseK: Int = 100,
      multiProbe: Boolean = false): DataFrame = {
    require(cfg.partitionKey.isEmpty,
      "topKPqRouted routes by the LSH shard column — a user-partitioned " +
        "lake has no LSH routing; use topKPq (full scan) or topKFiltered")
    val probes = probeShards(q, if (multiProbe) 1 + cfg.numHashes else 1)
    topKPqWhere("topKPqRouted", q, k, coarseK, Some(probes))
  }

  private def topKPqWhere(op: String, q: Seq[Double], k: Int, coarseK: Int,
      probes: Option[Seq[Int]]): DataFrame = {
    val model = cfg.pqCodebooks.getOrElse(throw new IllegalArgumentException(
      s"$op needs a materialized pq_code column: set pqCodebooks = Some(model)"))
    val (_, entries, st) = resolveState()
    requireRouting(st)
    pqFingerprintMatch(st) // stored codes must be this model's codes
    val adc = (0 until model.m).map { mi =>
      element_at(V.vecLit(model.lutFor(q, mi)),
        (shiftright(col("pq_code"), 8 * mi).bitwiseAND(lit(255)) + 1).cast("int"))
    }.reduce(_ + _)
    // both stages score one snapshot, and the rerank never reads outside
    // the routed shards either
    val slice = readFrom(st, entries, probes.map(shardValues))
    val coarse = slice
      .select(col("id"), adc.as("adc"))
      .orderBy(col("adc"), col("id"))
      .limit(coarseK)
      .select("id")
    slice
      .join(broadcast(coarse), Seq("id"))
      .withColumn("dist", V.round6z(distCol(q)))
      .orderBy(col("dist"), col("id"))
      .limit(k)
  }

  private def topKWhere(q: Seq[Double], k: Int, pred: Column): DataFrame =
    topKOver(read().where(pred), q, k)

  /** Exact top-k over the probed shards only ([[readPartitions]]). */
  private def topKRouted(q: Seq[Double], k: Int, probes: Seq[Int]): DataFrame =
    topKOver(readPartitions(shardValues(probes)), q, k)

  /** LSH shard ids as [[readPartitions]] values. */
  private def shardValues(shards: Seq[Int]): Set[Option[String]] =
    shards.map(s => Option(s.toString)).toSet

  /** The one scoring tail every exact serve path shares (metric via
    * `distCol`, round-6 floats, (dist, id) total order, heap top-k) —
    * a tiebreak or rounding change here lands everywhere at once. */
  private def topKOver(base: DataFrame, q: Seq[Double], k: Int): DataFrame =
    base
      .withColumn("dist", V.round6z(distCol(q)))
      .orderBy(col("dist"), col("id"))
      .limit(k)

  // ---- recall-targeted dial selection --------------------------------

  private def recallPath: org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(cfg.location, "_recall")

  @volatile private var recallCalibCache: Option[Seq[Double]] = None

  /** CALIBRATE the multiprobe recall ladder so [[topKAtRecall]] can
    * pick `nprobe` for a TARGET instead of the user guessing blind.
    * One distributed pass: a deterministic sample of the lake's own
    * vectors (smallest `xxhash64(id)` — stable across sessions) is
    * broadcast as queries, the EXACT top-k per query is computed with
    * the bounded-heap aggregate carrying each hit's stored shard, and
    * recall at every nprobe level falls out of shard membership alone
    * — a hit in the first n probe shards IS returned by the n-probe
    * search (it outranks everything there by definition), so no pruned
    * query ever needs to run. Cost: ONE exact batch scan for ALL
    * ladder levels. Self-hit bias: each sampled query's own row hits
    * at nprobe 1, inflating measured recall by ≤ 1/k — calibrate with
    * the k you will serve. The result is persisted like the IVF/PQ
    * models (root sibling `_recall/calib.json`, tmp+rename swap,
    * stamped with the routing fingerprint and the lake's
    * `last_update`), so one calibration serves every later session;
    * data drift since the stamp shifts true recall — re-run on
    * maintenance cadence. Returns recall per nprobe (index 0 =
    * nprobe 1). */
  def calibrateRecall(k: Int = 20, sampleQueries: Int = 32): Seq[Double] = {
    require(cfg.partitionKey.isEmpty,
      "calibrateRecall needs LSH routing (user-keyed lakes have no probe ladder)")
    require(k >= 1 && sampleQueries >= 1, "calibrateRecall: k, sampleQueries >= 1")
    import spark.implicits._
    // one state read serves the sample, the ladder's stamp and its volume
    val (fs, entries, st) = resolveState()
    requireRouting(st)
    val base = readFrom(st, entries).select(col("id"), col("vector"), col(partCol))
    val sampled = base
      .select(col("id"), V.asDouble(col("vector")).as("qv"))
      .orderBy(abs(xxhash64(col("id"))), col("id"))
      .limit(sampleQueries)
      .collect() // bounded: sampleQueries rows
      .map(r => r.getAs[scala.collection.Seq[Double]]("qv").toSeq)
    require(sampled.nonEmpty, s"calibrateRecall at ${cfg.location}: empty lake")
    val qdf = broadcast(sampled.toSeq.zipWithIndex
      .map { case (qv, i) => (i.toLong, qv) }.toDF("qid", "qvec")
      .select(col("qid"), col("qvec"), V.l2Norm(col("qvec")).as("qnrm")))
    // exact per-query top-k, each hit tagged "shard:id" (the heap pair's
    // id slot is a string — carry the shard through it)
    val hits = base
      .select(col("id"), col(partCol),
        V.asDouble(col("vector")).as("vec"), V.l2Norm(col("vector")).as("nrm"))
      .crossJoin(qdf)
      .select(col("qid"), V.round6z(pairDist).as("dist"),
        concat_ws(":", col(partCol), col("id")).as("tag"))
      .groupBy("qid")
      .agg(graft.expressions.TopKAggregate.topK(struct(col("dist"), col("tag")), k).as("top"))
      .select(col("qid"), col("top"))
      .collect() // bounded: sampleQueries rows of <= k pairs
      .map(r => r.getLong(0).toInt ->
        r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](1)
          .map(_.getString(1).split(":", 2)(0).toInt).toSeq)
      .toMap
    val maxN = 1 + cfg.numHashes
    val recalls = (1 to maxN).map { n =>
      val per = sampled.indices.flatMap { i =>
        hits.get(i).filter(_.nonEmpty).map { shards =>
          val probes = probeShards(sampled(i), n).toSet
          shards.count(probes).toDouble / shards.size
        }
      }
      per.sum / per.size
    }
    // persist like the IVF/PQ models: tmp + rename swap of a one-file
    // sidecar dir, fingerprinted against the routing config
    val tmp = new org.apache.hadoop.fs.Path(cfg.location,
      s"_recall__tmp_${java.util.UUID.randomUUID()}")
    fs.mkdirs(tmp)
    ControlFiles.write(fs, new org.apache.hadoop.fs.Path(tmp, "calib.json"),
      ControlFiles.RecallCalib(Some(cfg.dim.toLong), Some(cfg.numHashes.toLong),
        Some(cfg.seed), Some(cfg.metric), Some(k), Some(sampled.size),
        Some(st.lastUpdate.getOrElse("")),
        // the live data volume at calibration time — the cheap drift
        // denominator [[recallCalibStale]] compares against (metadata
        // only, no scan)
        Some(liveDataBytes(fs, entries, st)), recalls), overwrite = false)
    fs.delete(recallPath, true)
    fs.rename(tmp, recallPath)
    recallCalibCache = Some(recalls)
    recalls
  }

  /** Total bytes of live data files of a resolved state — the
    * calibration-drift denominator. Pure metadata (the resolved live set,
    * the filesView posture: the recorded lengths, a LIST only for an
    * unrecorded directory); never opens a file. */
  private def liveDataBytes(fs: org.apache.hadoop.fs.FileSystem,
      entries: Seq[org.apache.hadoop.fs.FileStatus], st: LakeState): Long = {
    val live = resolveFiles(fs, st, liveEntries(st), "liveDataBytes")
      .map(_._2.map(_.getLen).sum).sum
    // legacy root-level data: a directory's own FileStatus length is
    // meaningless — branch on shape like filesView, never entries.find
    // (whose hit would report the dir entry's ~0 length for gigabytes
    // of pre-v2 partition data)
    val legacy = rootLevelDataFrom(entries).map { p =>
      if (p.getName.endsWith(".parquet"))
        entries.find(_.getPath == p).map(_.getLen).getOrElse(0L)
      else if (fs.exists(p)) dataFilesIn(fs, p).map(_.getLen).sum
      else 0L
    }.sum
    live + legacy
  }

  /** STALENESS of the persisted recall calibration — the policy that
    * decides when churn has invalidated the ladder ([[maintain]] is
    * the consumer; it re-calibrates exactly when this says so):
    *
    *  - None: no calibration persisted (nothing to be stale).
    *  - Some(false): FRESH — the lake's `last_update` change token
    *    still equals the one the calibration recorded (nothing at all
    *    changed: one sidecar read, the fast path), OR the token moved
    *    but the live data VOLUME drifted less than `drift` (default
    *    50%) from the calibrated volume — small appends and pure
    *    rewrites shift shard-membership distributions far too little
    *    to move a ladder measured over a vector sample.
    *  - Some(true): STALE — the volume drifted past the threshold
    *    (mass ingest/delete since calibration: the sampled queries and
    *    the shard distribution no longer describe this lake), or the
    *    token moved and the calibration predates volume recording.
    *
    * Cost: one sidecar read on the fresh-token path; one metadata
    * listing otherwise. Never a data scan. [[topKAtRecall]] keeps
    * serving under a stale ladder (its fallback contract is unchanged
    * and re-calibration is a write-path job, not something a read
    * should trigger) — staleness is a MAINTENANCE signal. */
  private[graft] def recallCalibStale(drift: Double = 0.5): Option[Boolean] =
    (try recallCalib()
     // torn artifact: stale, so the next maintain() re-calibrates over it
     catch { case _: ControlFiles.Unparseable => return Some(true) })
      .map { c =>
        // one state read serves the token and the volume
        val (fs, entries, st) = resolveState()
        val stamp = c.stamp.getOrElse("")
        if (stamp.nonEmpty && st.lastUpdate.contains(stamp)) false
        else c.bytes match {
          case None => true // pre-volume artifact + moved token: recalibrate once
          case Some(b0) =>
            math.abs(liveDataBytes(fs, entries, st) - b0).toDouble >
              drift * math.max(b0, 1L).toDouble
        }
      }

  /** The persisted calibration, None when none was persisted; a body
    * that does not decode fails loudly. */
  private def recallCalib(): Option[ControlFiles.RecallCalib] = {
    val fs = fsOfRoot
    val p = new org.apache.hadoop.fs.Path(recallPath, "calib.json")
    if (!fs.exists(p)) None else Some(ControlFiles.read[ControlFiles.RecallCalib](fs, p))
  }

  /** The persisted ladder, refused loudly when its routing fingerprint
    * differs from this session's config (a ladder measured under
    * foreign hyperplanes says nothing about ours). */
  private def loadRecallCalib(): Option[Seq[Double]] = {
    if (recallCalibCache.isDefined) return recallCalibCache
    val rs = recallCalib().map { c =>
      Seq(("dim", c.dim, cfg.dim.toLong), ("num_hashes", c.numHashes, cfg.numHashes.toLong),
        ("lsh_seed", c.lshSeed, cfg.seed)).foreach { case (n, got, want) =>
        got.foreach(g => require(g == want,
          s"recall calibration at ${cfg.location} was measured under $n=" +
            s"$g but this session uses $want — " +
            "re-run calibrateRecall() under the writer's config"))
      }
      // the ladder is metric-specific too: which shards hold a query's
      // true top-k depends on the distance ranking, so a cosine-measured
      // ladder says nothing about l2 serving
      c.metric.foreach(got => require(got == cfg.metric,
        s"recall calibration at ${cfg.location} was measured under " +
          s"metric=$got but this session uses ${cfg.metric} — " +
          "re-run calibrateRecall() under the serving metric"))
      c.recalls
    }
    recallCalibCache = rs
    rs
  }

  /** RECALL-TARGETED kNN: serve `q` at the cheapest `nprobe` whose
    * CALIBRATED recall meets `targetRecall` — the dial-picking layer
    * over [[topK]]/[[topKMultiProbe]] (SURVEY §2.3's dials exist; this
    * chooses one). Needs one prior [[calibrateRecall]] (persisted —
    * any session after it just loads). A target the full Hamming-1
    * ladder cannot reach falls back to the EXACT scan — recall 1.0 by
    * construction, never a silent miss of the promise. Returns the
    * usual (row..., dist) top-k frame. */
  def topKAtRecall(q: Seq[Double], k: Int, targetRecall: Double): DataFrame = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1]; got $targetRecall")
    val recalls = loadRecallCalib().getOrElse(throw new IllegalStateException(
      s"topKAtRecall at ${cfg.location}: no calibration found — run " +
        "calibrateRecall() once (it persists in _recall/ for every " +
        "later session)"))
    val idx = recalls.indexWhere(_ >= targetRecall)
    if (idx < 0) topKExact(q, k)
    else topKRouted(q, k, probeShards(q, idx + 1))
  }

  /** Metadata/attribute-filtered exact kNN — the vector-DB "filtered
    * search" surface (`topKFiltered(q, k, col("metadata")("name") ===
    * "x")`): the predicate is pushed into the scan like any Catalyst
    * filter, then the usual heap top-k. Exact over the filtered set —
    * no post-filtering a pruned candidate list short (the classic
    * filtered-ANN recall bug). */
  def topKFiltered(q: Seq[Double], k: Int, pred: Column): DataFrame =
    topKWhere(q, k, pred)

  /** Maximal-marginal-relevance search (the LangChain
    * `max_marginal_relevance_search` the reference's store never grew):
    * fetch the `fetchK` nearest candidates distributed, then greedily
    * pick `k` of them maximizing
    * `λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s)` — relevance traded
    * against redundancy. The greedy loop is inherently sequential, so
    * it runs driver-side over the COLLECTED candidate set — bounded at
    * `fetchK` rows by the distributed top-k that precedes it (the same
    * bounded-pull posture as the IVF centroid fetch, never the corpus).
    * Returns (id, document, dist) in selection order. */
  def mmrSearch(q: Seq[Double], k: Int, fetchK: Int = 50,
      lambdaMult: Double = 0.5): DataFrame = {
    import spark.implicits._
    val cand = topKExact(q, fetchK)
      .select(col("id"), col("document"), col("dist"), col("vector"))
      .collect()
    val vecs = cand.map(_.getAs[scala.collection.Seq[Float]]("vector")
      .map(_.toDouble).toIndexedSeq)
    val qv = q.toIndexedSeq
    def cos(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      // 0.0, not NaN: Scala's Double ordering ranks NaN above every real
      // score, so a single zero-norm candidate would win maxBy first
      // regardless of lambda
      if (den == 0.0) 0.0 else dot / den
    }
    val qSim = vecs.map(cos(_, qv))
    val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
    while (selected.length < math.min(k, cand.length)) {
      val best = vecs.indices
        .filterNot(selected.contains)
        .maxBy { i =>
          val redundancy =
            if (selected.isEmpty) 0.0
            else selected.map(j => cos(vecs(i), vecs(j))).max
          lambdaMult * qSim(i) - (1 - lambdaMult) * redundancy
        }
      selected += best
    }
    selected.toSeq.map { i =>
      (cand(i).getAs[String]("id"), cand(i).getAs[String]("document"),
        cand(i).getAs[Double]("dist"))
    }.toDF("id", "document", "dist")
  }

  /** A nested metadata field, read out of the opaque `"_json"` slot a
    * `metadata_json` ingest column stored ([[ingest]] scaladoc): pass a
    * dotted path (`"origin.source"`) or a full JsonPath (`"$.a.b"`).
    * Returns the value as a string column (null when absent) —
    * `get_json_object`, codegen'd, usable in filters/groupings/
    * projections like any column. Numeric fields: `.cast("long")` etc.
    * at the call site. */
  def metadataField(path: String): Column = {
    val p = if (path.startsWith("$")) path else "$." + path
    get_json_object(metadataJson, p)
  }

  /** The raw nested-metadata JSON document (null for rows ingested
    * without `metadata_json`). */
  def metadataJson: Column = col("metadata").getItem("_json")

  /** Retrieval-surface projection mirroring the reference's LangChain
    * adapter `similarity_search` (langchain/__init__.py:78-90): top-k
    * rows projected to (document, metadata, dist). Embedding the query
    * text is the caller's job — no model inference in-engine (§2.6). */
  def similaritySearch(queryEmbedding: Seq[Double], k: Int): DataFrame =
    topK(queryEmbedding, k).select(col("document"), col("metadata"), col("dist"))

  /** The reference's actual `Index.query` contract (index.py:539-541):
    * nearest-neighbor VECTORS only, nothing else projected — column
    * pruning reaches the parquet scan, so only the vector column is
    * read. */
  def query(queryEmbedding: Seq[Double], k: Int): DataFrame =
    topK(queryEmbedding, k).select(col("vector"))

  /** Hybrid retrieval over the lake — BM25 keyword leg over `document`
    * plus a cosine leg over `vector`, fused by reciprocal rank
    * (1/(60+r) per leg; the q_hybrid_rrf shape as a first-class store
    * API). Each leg reduces to a heap top-`perLegK` list before any
    * window ranks it, so the lake never meets a global sort; BM25 uses
    * the linear idf (N/df) with k1=1.2, b=0.75. A keyword absent from
    * the whole lake contributes zero (guarded — the unguarded formula
    * is 0·∞ = NaN for every row), and a document matching no keyword is
    * dropped from the keyword leg entirely, so a dead keyword leg
    * genuinely contributes nothing (not an id-ordered rank list).
    * Returns (id, rrf) ranked best-first. */
  def hybridSearch(q: Seq[Double], keywords: Seq[String], k: Int,
      perLegK: Int = 100): DataFrame = {
    require(keywords.nonEmpty, "hybridSearch needs at least one keyword")
    val T = graft.functions.TextFunctions
    val toks = read().select(col("id"), T.tokens(col("document")).as("tk"))
    val aggCols =
      org.apache.spark.sql.functions.count(lit(1)).as("n") +:
        sum(size(col("tk")).cast("long")).as("sumdl") +:
        keywords.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(col("tk"), t), 1L).otherwise(0L)).as(s"df$i")
        }
    val stats = toks.agg(aggCols.head, aggCols.tail: _*)
    def termScore(t: String, i: Int): Column =
      T.bm25TermScore(col("tk"), t, col("n"), col("sumdl"), col(s"df$i"))
    val w = org.apache.spark.sql.expressions.Window
    val kwTop = toks.crossJoin(broadcast(stats))
      .select(col("id"),
        keywords.zipWithIndex.map((termScore _).tupled).reduce(_ + _).as("s"))
      // a document matching NO keyword scores 0 — drop it BEFORE ranking,
      // or a dead keyword leg would still emit ranks 1..perLegK by id and
      // hand every such row an arbitrary nonzero 1/(60+rk) contribution
      .where(col("s") > 0)
      .orderBy(col("s").desc, col("id")).limit(perLegK)
    val kwRanked = kwTop.select(col("id"),
      row_number().over(w.orderBy(col("s").desc, col("id"))).as("rk"))
    val vecTop = read()
      .select(col("id").as("vid"), V.round6z(distCol(q)).as("d"))
      .orderBy(col("d"), col("vid")).limit(perLegK)
    val vecRanked = vecTop.select(col("vid"),
      row_number().over(w.orderBy(col("d"), col("vid"))).as("rv"))
    kwRanked.join(vecRanked, kwRanked("id") === vecRanked("vid"), "full_outer")
      .select(coalesce(col("id"), col("vid")).as("id"),
        (coalesce(lit(1.0) / (lit(60) + col("rk")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(k)
  }

  /** Batch ingest of (text, embedding) pairs — the `add_texts` analog
    * (langchain/__init__.py:43-67): returns the row count written. */
  def addTexts(texts: DataFrame): Long = {
    val n = texts.count()
    ingest(texts.withColumnRenamed("text", "document")
      .withColumnRenamed("embedding", "vector"))
    n
  }

  /** Force-materialize (the reference's warm `load_local`, index.py:565-568). */
  def loadWarm(): Long = { val df = read().cache(); df.count() }

  /** Estimated bytes (reference `memory_footprint`, index.py:332-335). */
  def sizeInBytes(): BigInt =
    read().queryExecution.optimizedPlan.stats.sizeInBytes

  def count(): Long = read().count()

  /** Compact the lake's small files: every append (`ingest`,
    * `ingestStream` micro-batch) adds at least one file per touched
    * shard, so a long-lived lake accumulates the small-files
    * antipattern (listing pressure, per-file open cost, tiny scans —
    * the thing that actually kills 100 TB parquet lakes). Rewrites each
    * shard's data into ~`targetBytes` files: shards get
    * ceil(bytes/target) slices, rows are clustered by (shard, slice) so
    * each output file is whole, then the new generation is committed
    * with one sidecar create. For the targeted variant that skips
    * already-clean shards, see [[compactIncremental]].
    *
    * This is the maintenance operation the reference cannot express —
    * its sync already rewrites EVERY segment file on EVERY persist
    * (index.py:294-308); here rewriting is explicit, sized, and
    * distributed (one shuffle, no driver-side data).
    *
    * Refuses to touch a lake with a Structured Streaming `_spark_metadata`
    * sink log: the sink's manifest names the original files, and a
    * rewrite would silently orphan them — stop the stream and rename
    * the log away first (or read through a new location).
    *
    * Atomicity (layout v2): the rewrite lands in a NEW generation tree
    * and the COMMIT is one sidecar create — readers resolve their paths
    * from one sidecar version and nothing here deletes or renames a
    * byte of the old generation, so a reader racing compact sees either
    * the old tree or the new one, never a missing or half-swapped
    * directory (object-store safe: no rename anywhere). Dead
    * generations stay on disk until an operator-invoked [[vacuum]] —
    * the same retention posture as any log-structured table format.
    *
    * @param clusterBy optional clustering expressions (e.g. a timestamp,
    *        or a [[graft.operators.ZOrder]] interleave over metadata
    *        columns) — the OPTIMIZE-ZORDER analog, at two granularities:
    *        files are RANGE-SLICED over (shard, clusterBy) so each
    *        rewritten file covers one contiguous key band (the per-file
    *        zone map keeps pruning after the rewrite — hash slicing
    *        would hand every file the shard's whole key range and undo
    *        time-correlated ingest's natural banding), and rows inside
    *        each file are locally sorted (parquet row-group stats
    *        tighten). Pure layout change: rows and routing untouched;
    *        file sizing still tracks `targetBytes` through the range
    *        sampler's row balancing.
    * @return number of data files after compaction */
  def compact(targetBytes: Long = 128L * 1024L * 1024L,
      clusterBy: Seq[Column] = Nil): Long =
    lockedRewrite("compact", 0L) { (fs, entries, st) =>
      // cheap refusals before the footer reads below (rewritePartitions
      // repeats the reshard and manifest checks for its other callers);
      // compactIncremental leaves the manifest check to the rewrite, so a
      // tick with nothing dirty stays a no-op on a sink-owned lake
      requireNoReshard(st, "compact")
      requireManifestGoverned("compact", st, entries)
      val files = liveShardFiles(fs, st)
      if (files.isEmpty) 0L
      else rewritePartitions(fs, entries, st, files.keySet,
        readFrom(st, entries).select((storedColsOf(st).map(col) :+ col(partCol)): _*),
        footerRowsOf(files.values), "compact",
        files.map { case (v, fl) => v -> slicesOf(fl, targetBytes) }, clusterBy)
    }

  /** INCREMENTAL compact: rewrite only the shards whose file count
    * exceeds what their bytes justify under `targetBytes` (with
    * `maxFilesPerShard` slack below which a shard is never worth
    * touching). Clean directories are not read, not rewritten, and stay
    * BIT-IDENTICAL — at 100 TB this is the difference between a
    * maintenance cycle costing O(dirty shards) and [[compact]]'s
    * full-table rewrite. Same commit protocol as every other rewrite
    * (new generation + one sidecar create). Returns the number of
    * shards rewritten. */
  def compactIncremental(targetBytes: Long = 128L * 1024L * 1024L,
      clusterBy: Seq[Column] = Nil, maxFilesPerShard: Int = 4): Long =
    lockedRewrite("compactIncremental", 0L) { (fs, entries, st) =>
      requireNoReshard(st, "compactIncremental")
      // a shard's files and bytes across every live copy of it
      val dirty = liveShardFiles(fs, st).filter { case (_, fl) =>
        fl.size > math.max(maxFilesPerShard.toLong, slicesOf(fl, targetBytes)) }
      if (dirty.nonEmpty)
        rewritePartitions(fs, entries, st, dirty.keySet,
          readFrom(st, entries, Some(dirty.keySet))
            .select((storedColsOf(st).map(col) :+ col(partCol)): _*),
          footerRowsOf(dirty.values), "compactIncremental",
          dirty.map { case (v, fl) => v -> slicesOf(fl, targetBytes) }, clusterBy)
      dirty.size.toLong
    }

  /** Files a shard holding `fl` compacts into at ~`targetBytes` each:
    * ceil(bytes / target), at least one. */
  private def slicesOf(fl: Seq[org.apache.hadoop.fs.FileStatus], targetBytes: Long): Long =
    math.max(1L, (fl.map(_.getLen).sum + targetBytes - 1) / targetBytes)

  /** Inverse of Spark's partition-path escaping — delegates to the ONE
    * hardened implementation in the companion ([[Lake.unescapePartitionValue]]),
    * shared with the DSv2 format so the two surfaces can never decode
    * the same directory name differently. */
  private[graft] def unescapePartitionValue(raw: String): Option[String] =
    Lake.unescapePartitionValue(raw)

  /** The decoded partition value of a `<col>=<escaped value>` directory name. */
  private def dirValue(d: String): Option[String] = unescapePartitionValue(d.split("=", 2)(1))

  /** INCREMENTAL RESHARD — grow the routing width from `cfg.numHashes`
    * to `newNumHashes` hyperplanes (2^Δ× the shards), the structural
    * answer to "what happens at 100× the data": shard count is
    * otherwise frozen at creation (the reference pins it the same way,
    * `approx_shards → 2^round(log2(...))`, index.py:454-455), so every
    * directory grows with the lake and single-probe topK degrades
    * linearly. Returns the Lake at the new width; the receiver is
    * STALE after a successful begin (every read and write it attempts
    * is refused by the per-operation width checks — construct at the
    * new width, or use the returned instance).
    *
    * Why refinement is exact and local: the seeded hyperplane sequence
    * is PREFIX-STABLE ([[graft.functions.Lsh.shardColFrom]] — LshSpec
    * pins it), so a row's width-(h+Δ) shard is its stored width-h
    * shard plus 2^h·bit_h + ... — per-row arithmetic, no global
    * re-route. Each directory therefore splits INDEPENDENTLY into its
    * 2^Δ refinements, which makes the rewrite incremental:
    *
    *  1. TRANSITION (one commit, writer-locked): the sidecar's
    *     declared width flips to the target, every live (directory,
    *     generation) pair is recorded `reshard_pending` at the old
    *     width, and the append target rolls to a fresh generation —
    *     post-transition appends (routed at the NEW width by any
    *     correctly-constructed writer; stale-width writers are refused
    *     per write) can never share a (dir, generation) identity with
    *     a pending entry. The by-value skip index is dropped (it would
    *     mis-prune mid-reshard) and rebuilt at completion.
    *  2. STEPS (`dirsPerCommit` directories per commit, resumable):
    *     read exactly the batch's source pairs, widen each row's
    *     shard, write the split directories into a fresh generation,
    *     verify count + scope, commit — the batch's sources retire
    *     from the manifest (dead in place, vacuum sweeps), pending
    *     shrinks. A crash strands at most one uncommitted generation
    *     (vacuum sweeps it) and the batch replays; `maxDirs` bounds
    *     one call's work so the rewrite can ride maintenance windows.
    *  3. COMPLETION (one commit): `reshard_pending` empties, the
    *     reshard fields drop, and the skip index rebuilds if step 1
    *     dropped one.
    *
    * READS STAY CORRECT THROUGHOUT: [[read]]/[[readAt]]/topK re-derive
    * the missing high bits per row for pending directories (and for
    * pre-reshard snapshots — time travel works across reshards), at
    * the honest transient cost that pending directories lose
    * DIRECTORY pruning until their step completes (the filter lands
    * post-derivation); probe cost decays to the new width's as steps
    * land. Appends, clones, and vacuum run between steps; structural
    * maintenance (compact/DML/retention/seal/feed-since-current) is
    * refused until completion, and the SQL format refuses mid-reshard
    * and pre-reshard-snapshot scans (it serves directory-NAMED
    * partition values and cannot re-derive — the error says to read
    * through the Scala API).
    *
    * REPLICATION: a reshard between two sync points makes the netted
    * feed O(data) once (every row lands in new files, most with a new
    * shard value). Replicas converge by resharding THEMSELVES to the
    * same width first (routing is deterministic, so source and replica
    * split identically — a post-reshard [[diffStats]] audit convicts
    * nothing) and then applying the feed as usual.
    *
    * RESUME: call again with the SAME `newNumHashes` from a session at
    * the new width (the `graft` catalog's `CALL reshard` resolves the
    * width from the sidecar automatically). A crashed step leaves the
    * writer lock stranded — [[repair]] clears it, then resume. */
  def reshard(newNumHashes: Int, maxDirs: Int = Int.MaxValue,
      dirsPerCommit: Int = 64): Lake = {
    require(cfg.partitionKey.isEmpty,
      "reshard applies to LSH-routed lakes; a user-keyed lake's " +
        "partitioning is the caller's to change")
    require(newNumHashes > 0 && newNumHashes <= 30, "numHashes in (0,30]")
    require(newNumHashes >= cfg.numHashes,
      s"reshard only REFINES the routing (cannot narrow " +
        s"${cfg.numHashes} -> $newNumHashes hyperplanes): merging " +
        "shards is a whole-lake rewrite — create a lake at the " +
        "narrower width and cloneTo it instead")
    require(dirsPerCommit > 0 && maxDirs >= 0,
      s"dirsPerCommit must be positive and maxDirs non-negative")
    requireRouting(readState()) // both modes: the CALLER's width matches the sidecar
    if (newNumHashes == cfg.numHashes) { // resume (no-op when complete)
      reshardSteps(maxDirs, dirsPerCommit)
      return this
    }
    val target = new Lake(spark, cfg.copy(numHashes = newNumHashes))
    withReshardLock {
      val (fs, entries, st) = resolveState()
      requireWriteConfigMatch(fs, entries, st)
      requireNoReshard(st, "reshard(begin)") // defensive; requireRouting
      // already refuses a session at neither endpoint of an in-flight one
      requireManifestGoverned("reshard", st, entries)
      val pending = liveEntries(st)
      val hadSkip = fs.exists(skipPath)
      writeState(st.copy(generation = nextGen(st, entries), live = pending,
        genRecorded = true, reshard = Some(Lake.ReshardState(
          cfg.numHashes, newNumHashes, pending, hadSkip))))
      if (hadSkip) { fs.delete(skipPath, true); () }
    }
    target.reshardSteps(maxDirs, dirsPerCommit)
    target
  }

  /** In-flight reshard introspection: (from_shards, to_shards,
    * pending directory count) — None when no reshard is in flight.
    * What `CALL reshard`'s result row and operator dashboards read;
    * one sidecar read. */
  def reshardStatus(): Option[(Long, Long, Long)] =
    readState().reshard.map(r =>
      (1L << r.fromBits, 1L << r.toBits, r.pending.size.toLong))

  /** Writer-lock acquisition with bounded backoff, for the reshard
    * path only: a long reshard shares the lake with LIVE appenders,
    * and each step's lock grab can collide with a shared append
    * marker — a transient state the next moment clears. Up to seven
    * attempts (~5 s of capped exponential backoff) before surfacing
    * the contention; a genuinely stranded lock still fails loudly,
    * with [[repair]] as the documented recovery. Other maintenance
    * keeps the throw-on-first-contention posture (a cron retries on
    * its next tick); reshard retries because ONE call is expected to
    * shepherd many steps through ambient ingest traffic. */
  private def withReshardLock[T](body: => T): T = {
    var attempt = 0
    while (true) {
      try return withWriterLock("reshard")(body)
      catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt >= 6) throw e
          Thread.sleep(math.min(100L * (1L << attempt), 2000L))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The step loop half of [[reshard]], always running at the TARGET
    * width: one writer-locked committed batch per iteration, so
    * appends interleave between batches and a kill at any point
    * resumes from the last commit. */
  private def reshardSteps(maxDirs: Int, dirsPerCommit: Int): Unit = {
    var budget = maxDirs
    var rebuildSkip = false
    var done = false
    while (!done) {
      withReshardLock {
        val (fs, entries, st) = resolveState()
        st.reshard match {
          case None => done = true // complete (or never begun: no-op)
          case Some(r) =>
            require(r.toBits == cfg.numHashes,
              s"reshard resume at ${cfg.location}: the in-flight " +
                s"target is ${1L << r.toBits} shards but this session " +
                s"routes ${lsh.numShards} — resume with numHashes = " +
                s"${r.toBits}")
            if (r.pending.isEmpty) {
              writeState(st.copy(reshard = None))
              rebuildSkip = r.hadSkipIndex
              done = true
            } else if (budget <= 0) done = true
            else {
              val batch = r.pending.take(math.min(budget, dirsPerCommit))
              reshardStep(fs, entries, st, r, batch)
              budget -= batch.size
            }
        }
      }
    }
    // outside the step lock: buildSkipIndex takes its own writer lock
    if (rebuildSkip) { buildSkipIndex(); () }
  }

  /** One committed reshard batch: read EXACTLY the batch's (directory,
    * generation) sources at the old width, widen each row's shard by
    * the refinement bits, write the split directories into a fresh
    * generation, verify count and refinement scope, commit the batch's
    * retirement. Same sidecar-commit discipline as every rewrite: a
    * failure before the sidecar create leaves the live state
    * untouched and the stranded tree for vacuum. */
  private def reshardStep(fs: org.apache.hadoop.fs.FileSystem,
      entries: Seq[org.apache.hadoop.fs.FileStatus], st: LakeState,
      r: Lake.ReshardState, batch: Seq[(String, Long)]): Unit = {
    val sources = resolveFiles(fs, st, batch, "reshard")
    val newGen = nextGen(st, entries)
    // refinement scope: every produced value must preserve its source's
    // low bits — anything else is a routing bug, refused before the commit
    val mask = (1 << r.fromBits) - 1
    val oldVals = batch.flatMap(p => dirValue(p._1)).map(_.toInt).toSet
    val produced = writeGeneration(newGen,
      readFileSlice(sources.flatMap { case ((d, g), fl) => fl.map((d, g, _)) },
        extraFieldsOf(st))
        .select((storedColsOf(st) :+ partCol).map(col): _*)
        .withColumn(partCol, (col(partCol) + lsh.shardColFrom(col("vector"), r.fromBits))
          .cast(IntegerType)),
      footerRowsOf(sources.map(_._2)),
      "reshard", _.exists(v => oldVals(v.toInt & mask)))
    val batchSet = batch.toSet
    // COMMIT — the generation POINTER does not move: the split
    // directories land as EXPLICIT live entries in their fresh
    // (non-current) generation, the batch's source pairs fall out, and
    // the current generation — where appends land, and which a
    // mid-reshard ingestStream may have pinned with its _spark_metadata
    // manifest — is never touched. (An earlier version rolled the
    // pointer per step, which would have re-parented a stream-owned
    // generation into raw live entries and broken manifest-governed
    // file visibility.) The produced files ride the commit as recorded,
    // with their zone stats; the rest of the state (extras, sink heads,
    // zone stats) carries over. The skip index is absent mid-reshard
    // (dropped at transition).
    writeState(st.copy(
      live = st.live.filterNot(batchSet) ++ produced.map(_._1 -> newGen),
      reshard = Some(r.copy(pending = r.pending.filterNot(batchSet))),
      liveFiles = st.liveFiles ++ withZoneStats(st, newGen,
        produced.map { case (d, fl) => d -> fl.map(LiveFile.of) })
        .map { case (d, fl) => (d, newGen) -> fl }))
    ()
  }

  /** Row-level DELETE WHERE — the targeted maintenance op the reference
    * lacks (its only delete is whole-store, index.py:548-563; table
    * formats call this DELETE): rewrites ONLY the shard directories
    * that contain matches. Affected-partition discovery is one pruned
    * scan; unaffected directories are never read or touched, which at
    * 100 TB is the difference between rewriting gigabytes and
    * rewriting everything. Rows where `pred` evaluates NULL are KEPT
    * (SQL DELETE semantics: only true deletes). Returns rows deleted.
    *
    * SINGLE-WRITER op (like [[compact]]/[[upsert]]): an append landing
    * in an affected directory between the tmp write and the swap would
    * be lost — directory-layout tables have no optimistic-commit log.
    * ENFORCED by [[withWriterLock]]: a concurrent mutation throws
    * instead of silently losing the race.
    */
  def deleteWhere(pred: Column): Long =
    lockedRewrite("deleteWhere", 0L) { (fs, entries, st) =>
      rewriteRows(fs, entries, st, "deleteWhere", Left(pred))._1 }

  /** The prelude of the rewrites that have nothing to do on an empty
    * lake ([[deleteWhere]], [[deleteIds]], [[expire]], [[compact]],
    * [[compactIncremental]]): on a missing location `none`, and nothing
    * is created, not even the lock (one HEAD); else the writer lock
    * taken as `op` and ONE resolution under it — `none` on an empty
    * lake, else `body` over that resolution once its write and routing
    * config check (a rewrite under a lesser config would strip columns,
    * and its commit would stamp a foreign routing config). */
  private def lockedRewrite[T](op: String, none: T)(
      body: (org.apache.hadoop.fs.FileSystem,
        Seq[org.apache.hadoop.fs.FileStatus], LakeState) => T): T =
    if (!rootExists) none
    else withWriterLock(op) {
      val (fs, entries, st) = resolveState()
      if (!holdsData(fs, entries, st)) none
      else {
        requireWriteConfigMatch(fs, entries, st)
        requireRouting(st)
        body(fs, entries, st)
      }
    }

  /** RETENTION — delete every row whose `timestamp` is strictly older
    * than `olderThan`, at the cheapest PROVABLE cost tier:
    *
    *  1. WHOLESALE manifest retirement: a manifest entry (an
    *     older-generation directory) ALL of whose data files the
    *     committed zone stats certify fully expired (max `timestamp`
    *     below the horizon, every row's `timestamp` non-null — no
    *     null-timestamp row can hide) is retired by ONE sidecar commit.
    *     Zero file reads, zero rewrites: O(entries) metadata, the
    *     deleted row count comes from the stats' own row counts. With
    *     time-correlated appends and incremental compaction, old data
    *     concentrates in old generations, so steady-state retention at
    *     100 TB is almost entirely this tier — TTL enforcement priced
    *     like a directory listing, not like a delete.
    *  2. Row-level delete for the remainder: straddling files,
    *     current-generation data, and anything the map cannot certify
    *     (files without stats, null-bearing files) go through the
    *     usual transactional [[deleteWhere]] rewrite of
    *     exactly the affected partitions.
    *
    * Retired files stay on disk for time travel, dying in place like
    * any rewrite's old copies: [[vacuum]] frees their bytes once their
    * whole GENERATION falls out of the live manifest (compaction
    * migrates surviving directories forward, so old generations drain
    * naturally). The change feed carries both tiers as plain deletes,
    * so [[follow]]ers and [[syncFrom]] replicas apply the same
    * retention at their own pace. A lake without a zone map is still
    * correct — everything rides tier 2. Returns
    * (rowsRetiredWholesale, rowsDeletedByRewrite). */
  def expire(olderThan: java.time.Instant): (Long, Long) =
    lockedRewrite("expire", (0L, 0L))(expireImpl(_, _, _, olderThan))

  private def expireImpl(fs: org.apache.hadoop.fs.FileSystem,
      entries: Seq[org.apache.hadoop.fs.FileStatus], st0: LakeState,
      olderThan: java.time.Instant): (Long, Long) = {
    // same maintenance posture as compact/vacuum: data the manifest
    // does not govern cannot be retired
    requireManifestGoverned("expire", st0, entries)
    val horizon = java.sql.Timestamp.from(olderThan)
    requireNoReshard(st0, "expire")
    // tier 1: only MANIFEST entries are wholesale candidates (the
    // current generation is live by listing rule, not by entry)
    val candidates =
      if (st0.isSealed) st0.live else st0.live.filter(_._2 != st0.generation)
    var retiredRows = 0L
    var st = st0 // tier 2 runs over the state tier 1 committed, if it did
    if (candidates.nonEmpty && st0.zoneFields.isDefined) {
      // per-file certificates from the committed zone stats; a file
      // without stats certifies nothing — never wrong, merely tier-2 cost
      val stats = zoneStatsOf(st0)
      val h = epochMicros(olderThan)
      val retired = resolveFiles(fs, st0, candidates, "expire")
        .filter { case (_, files) =>
          files.nonEmpty && files.forall(f => stats.get(f.getPath)
            .exists(z => z.tsRows == z.rows && z.maxTs.exists(_ < h)))
        }
      if (retired.nonEmpty) {
        retiredRows = retired.flatMap(_._2).map(f => stats(f.getPath).rows).sum
        st = st0.copy(live = st0.live.filterNot(retired.map(_._1).toSet))
        writeState(st)
        ()
      }
    }
    // tier 2: whatever rows remain expired (straddlers, current-gen,
    // uncertified files) — discovery reads the post-retirement live set
    (retiredRows, rewriteRows(fs, entries, st, "deleteWhere",
      Left(col("timestamp") < lit(horizon)))._1)
  }

  /** THE row-level rewrite under every keyed write: [[deleteWhere]],
    * [[deleteIds]], [[expire]]'s tier 2, [[upsert]], SQL DML
    * ([[applyRowDelta]]) and [[applyChanges]] are thin callers that keep
    * their own lock, refusals and return shape. One sequence over the
    * root listing `entries` and state `st` the caller resolved under its
    * writer lock:
    *
    *  1. ONE BATCH AGGREGATE over the caller-materialized `inserts`:
    *     rows, distinct ids, insert partitions. Duplicate ids refuse
    *     loudly — every copy would survive the rewrite, and a frame has
    *     no row order to make "keep last" deterministic — BEFORE the
    *     empty-lake bootstrap ([[bootstrapAppend]]), so an empty lake
    *     cannot silently ingest both versions of an id. The bootstrap
    *     only counts the ids; a rewrite collects them to broadcast.
    *  2. `remove` dooms rows. `Left(pred)`: where `coalesce(pred,
    *     false)` holds (NULL-predicate rows are KEPT — SQL DELETE
    *     semantics); discovery is the pushed-down `where(pred)` (row
    *     groups skip by statistics, a partition-column predicate
    *     prunes directories), then one aggregate over the affected
    *     partitions counts rows and doomed rows. `Right(ids)`: where
    *     the id is in `ids` or among the insert ids (an insert replaces
    *     the stored row of its id — upsert identity), tested against a
    *     broadcast variable; ONE aggregate grouped by partition over the frame
    *     scoped to `scope` — else the skip index's candidates (exact:
    *     the doomed flag kills bloom false positives) — plus the insert
    *     partitions discovers and counts at once.
    *  3. The affected partitions' kept rows, cut from the frame that
    *     was counted (the same resolved files), plus the inserts, go
    *     to [[rewritePartitions]] expecting rows − doomed + inserts,
    *     which it checks against the new files' Parquet footers before
    *     the commit.
    *
    * Returns (rows removed, rows inserted). */
  private def rewriteRows(fs: org.apache.hadoop.fs.FileSystem,
      entries: Seq[org.apache.hadoop.fs.FileStatus], st: LakeState,
      tag: String, remove: Either[Column, Set[String]],
      inserts: Option[DataFrame] = None,
      scope: Option[Set[Option[String]]] = None): (Long, Long) = {
    val boot = inserts.isDefined && !holdsData(fs, entries, st)
    // ids and partition values aggregate inside structs, so a null id
    // counts as one distinct value and a null partition value (the
    // Hive default directory) is kept
    val (insN, insIds, insParts) = inserts.fold(
      (0L, Set.empty[String], Set.empty[Option[String]])) { batch =>
      val r = batch.agg(org.apache.spark.sql.functions.count(lit(1)),
        if (boot) count_distinct(struct(col("id")))
        else collect_set(struct(col("id"))),
        collect_set(struct(col(partCol)))).head()
      val ids = if (boot) Nil else r.getSeq[org.apache.spark.sql.Row](1)
      val distinct = if (boot) r.getLong(1) else ids.size.toLong
      require(distinct == r.getLong(0), s"$tag: inserts carry duplicate ids " +
        s"(${r.getLong(0)} rows, $distinct distinct ids)")
      (r.getLong(0), ids.flatMap(x => Option(x.getString(0))).toSet,
        r.getSeq[org.apache.spark.sql.Row](2)
          .map(x => Option(x.get(0)).map(_.toString)).toSet)
    }
    if (boot) {
      if (insN > 0L) bootstrapAppend(fs, st, inserts.get)
      return (0L, insN)
    }
    requireRouting(st)
    // (affected partitions, a frame over them with rows flagged
    // `__doomed`, its rows, its doomed rows)
    val (affected, flagged, rows, doomed) = remove match {
      case Left(pred) =>
        val hit = readFrom(st, entries).where(pred)
          .select(partCol).distinct().collect()
          .map(r => Option(r.get(0)).map(_.toString)).toSet ++ insParts
        if (hit.isEmpty) return (0L, 0L)
        val slice = readFrom(st, entries, Some(hit))
          .withColumn("__doomed", coalesce(pred, lit(false)))
        val r = slice.agg(org.apache.spark.sql.functions.count(lit(1)),
          count_if(col("__doomed"))).head()
        (hit, slice, r.getLong(0), r.getLong(1))
      case Right(given) =>
        val ids = given ++ insIds
        if (ids.isEmpty && insN == 0L) return (0L, 0L)
        val probe = scope.orElse(skipCandidates(ids.toSeq, st, entries))
          .map(_ ++ insParts)
        val discovery = probe match {
          case Some(c) if c.isEmpty => return (0L, 0L) // no stored shard holds an id
          case Some(c) => readFrom(st, entries, Some(c))
          case None => readFrom(st, entries)
        }
        // the id set ships to each executor once, as a broadcast
        // variable: a membership test needs no join, so neither this
        // aggregate nor the write of the kept rows runs a job to build one
        val idSet = spark.sparkContext.broadcast(ids)
        val frame = discovery.withColumn("__doomed",
          udf((id: String) => id != null && idSet.value.contains(id)).apply(col("id")))
        val perPart = frame.groupBy(col(partCol))
          .agg(org.apache.spark.sql.functions.count(lit(1)), count_if(col("__doomed")))
          .collect().map(r =>
            Option(r.get(0)).map(_.toString) -> ((r.getLong(1), r.getLong(2))))
          .toMap
        val hit = perPart.collect { case (v, (_, d)) if d > 0L => v }.toSet ++ insParts
        val (r, d) = hit.toSeq.flatMap(perPart.get).unzip[Long, Long]
        (hit, frame.where(affectedPartPred(hit)), r.sum, d.sum)
    }
    if (affected.isEmpty || (doomed == 0L && insN == 0L)) return (0L, 0L)
    val cols = storedColsOf(st).map(col) :+ col(partCol)
    val kept = flagged.where(!col("__doomed")).select(cols: _*)
    rewritePartitions(fs, entries, st, affected,
      inserts.fold(kept)(batch => kept.unionByName(batch.select(cols: _*))),
      rows - doomed + insN, tag)
    (doomed, insN)
  }

  /** The empty-lake bootstrap of a keyed write: the inserts ARE the
    * lake — a plain append, with the skip index refreshed as after any
    * append. */
  private def bootstrapAppend(fs: org.apache.hadoop.fs.FileSystem,
      st: LakeState, batch: DataFrame): Unit =
    writeAppend(fs, st, batch).foreach(out => refreshSkipIndex(out.state, out.shards))

  /** Upsert by caller-supplied id: rows whose id already exists replace
    * the stored version (wherever routing put it — a changed vector may
    * have moved shards), the rest append. One rewrite touching only the
    * union of (shards holding old versions, shards receiving new rows);
    * the batch's ids join the discovery scan as a broadcast. Returns
    * the number of replaced rows. Single-writer, same
    * caveat as [[deleteWhere]]. */
  def upsert(rows: DataFrame): Long = {
    require(rows.columns.contains("id"),
      "upsert needs caller-supplied ids (an id column) to define row identity")
    withWriterLock("upsert") {
      val (fs, entries, st) = resolveState()
      requireWriteConfigMatch(fs, entries, st)
      rewriteRows(fs, entries, st, "upsert", Right(Set.empty),
        Some(graft.operators.Materialize.cut(withDerived(rows, st))))._1
    }
  }

  /** ROW-LEVEL DML APPLY — the commit half of the SQL `UPDATE` /
    * `MERGE INTO` / subquery-`DELETE` surface
    * ([[graft.sources.GraftRowLevelBuilder]]): one transactional
    * rewrite that removes every id in `deletes` and lands every row in
    * `inserts` under upsert identity (an insert whose id already
    * exists replaces the stored version). Updates arrive pre-split as
    * delete(old id) + insert(new row), so `SET id` re-keying and
    * shard-moving `SET vector` need no special casing — the insert
    * re-derives and re-routes exactly like [[upsert]] (derived
    * columns `shard`/`packed`/`pq_code` are recomputed; DML
    * assignments to them are overwritten by design). Same discovery
    * (skip-index-prunable id probe), same rewrite machinery, locks,
    * and sidecar commit as [[upsert]]/[[deleteWhere]]. Returns
    * (rows removed or replaced, rows landed). */
  private[graft] def applyRowDelta(deletes: DataFrame,
      inserts: DataFrame): (Long, Long) =
    withWriterLock("rowLevelDml")(applyRowDeltaImpl(deletes, inserts))

  private def applyRowDeltaImpl(deletes: DataFrame,
      inserts: DataFrame): (Long, Long) = {
    val (fs, entries, st) = resolveState()
    requireWriteConfigMatch(fs, entries, st)
    // a pure DELETE stages no row columns — there is nothing to derive
    val batch =
      if (!inserts.columns.exists(_.equalsIgnoreCase("vector"))) None
      else Some(graft.operators.Materialize.cut(withDerived(inserts, st)))
    val delIds = deletes
      .select(col(deletes.columns.head).cast(StringType).as("id"))
      .where(col("id").isNotNull).distinct().collect()
      .map(_.getString(0)).toSet
    // duplicate TARGET ids in one statement (MERGE inserting two rows
    // under one explicit id, or two updates re-keyed onto one id) have
    // no row order to pick a winner by: refused, as upsert refuses
    rewriteRows(fs, entries, st, "rowLevelDml", Right(delIds), batch)
  }

  /** Membership predicate over decoded partition values. An LSH lake's
    * values are shard ids (never null), matched as a typed IN — the
    * literal shard predicate a routed scan prunes by (one id plans as
    * `shard = <id>`); a user key is matched null-safe on its string
    * form. */
  private def affectedPartPred(affected: Set[Option[String]]): Column =
    if (cfg.partitionKey.isEmpty)
      col(partCol).isin(affected.toSeq.flatMap(_.flatMap(_.toIntOption)).sorted: _*)
    else affected.toSeq
      .map(v => col(partCol).cast(StringType) <=> lit(v.orNull))
      .reduce(_ || _)

  // ---------------------------------------------------------------- skip index

  private def skipPath: org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(cfg.location, "_skip")

  /** Every live shard's file set, keyed by decoded partition value —
    * the resolved live set ([[resolveFiles]]) grouped by shard,
    * optionally only the shards in `only`: recorded sizes, a LIST only
    * for current-generation or unrecorded directories. What building
    * and freshness-checking the skip index, compaction sizing and
    * shard-skew telemetry all read. */
  private def liveShardFiles(fs: org.apache.hadoop.fs.FileSystem,
      st: LakeState,
      only: Option[Set[Option[String]]] = None)
      : Map[Option[String], Seq[org.apache.hadoop.fs.FileStatus]] =
    byShard(resolveFiles(fs, st, liveEntries(st).filter { case (d, _) =>
      only.forall(_.contains(dirValue(d))) }, "shard files"))

  /** Resolved entries' files grouped by decoded partition value. */
  private def byShard(
      resolved: Seq[((String, Long), Seq[org.apache.hadoop.fs.FileStatus])])
      : Map[Option[String], Seq[org.apache.hadoop.fs.FileStatus]] =
    resolved.groupBy { case ((d, _), _) => dirValue(d) }
      .map { case (v, xs) => v -> xs.flatMap(_._2) }

  /** A shard's skip-index fingerprint: its live files' paths and sizes. */
  private def fingerprintOf(fl: Seq[org.apache.hadoop.fs.FileStatus]): String =
    graft.operators.SkipIndex.fingerprint(fl.map(s => (s.getPath.toString, s.getLen)))

  /** Data files of one directory (markers and hidden files excluded). */
  private def dataFilesIn(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(p).toSeq.filter(s =>
      s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))

  /** Run `per` for each directory (or file) from a bounded thread
    * pool — one object-store LIST or footer read is a round trip, and
    * serial ones would pay |dirs| of them end to end (FileSystem reads
    * are thread-safe; s3a documents this). ExecutionExceptions are
    * unwrapped so callers see the real cause. Shared by the resolver
    * ([[resolveFiles]]) and the generation writer's footer checks. */
  private def mapDirsPooled[K, A](dirs: Seq[K])(per: K => A): Seq[A] = {
    if (dirs.isEmpty) return Nil
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, dirs.size))
    try {
      dirs.map { d =>
        pool.submit(new java.util.concurrent.Callable[A] {
          def call(): A = per(d)
        })
      }.map(f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        })
    } finally pool.shutdown()
  }

  /** Build (or refresh) the per-shard id Bloom skip index at
    * `<root>/_skip` — see [[graft.operators.SkipIndex]]. Two
    * column-pruned passes over the lake (per-shard counts to size the
    * sketches, then one `BloomFilterAggregate` per shard — map-side
    * combinable, only sketches reach the driver), one small parquet
    * write. Runs under the writer lock so the fingerprints it records
    * describe a tree no rewrite is concurrently replacing. Sketches are
    * sized for the largest shard at `fpp`; a false positive costs one
    * needlessly-probed shard, never a wrong answer. Returns the number
    * of shards indexed.
    *
    * Maintenance ops (deleteWhere/deleteIds/upsert/compact/
    * compactIncremental) REFRESH the index for the shards they rewrote
    * ([[refreshSkipIndex]]) — the table format maintaining its own
    * stats. Plain appends do not: an appended shard's fingerprint stops
    * matching, so probes read exactly that shard until the next rebuild
    * or the next maintenance op that touches it. Either way a stale
    * entry can only cost reads, never correctness. */
  def buildSkipIndex(fpp: Double = 0.01): Long = {
    if (!rootExists) return 0L
    withWriterLock("buildSkipIndex") {
      val (fs, entries, st) = resolveState()
      if (!holdsData(fs, entries, st)) return 0L
      requireRouting(st)
      requireManifestGoverned("buildSkipIndex", st, entries, streamOk = true)
      requireNoReshard(st, "buildSkipIndex")
      val files = liveShardFiles(fs, st)
      if (files.isEmpty) { fs.delete(skipPath, true); return 0L }
      writeSkipIndex(skipRows(readFrom(st, entries), files, fpp))
      files.size.toLong
    }
  }

  /** Index rows (part, fp, cnt, sketch) for the shards in `scope`,
    * computed from `slice` (the lake, or a pruned subset covering
    * exactly `scope`): one per-shard counts pass to size the sketches,
    * then one `BloomFilterAggregate` per shard. */
  private def skipRows(slice: DataFrame,
      scope: Map[Option[String], Seq[org.apache.hadoop.fs.FileStatus]],
      fpp: Double): DataFrame = {
    val key = col(partCol).cast(StringType).as("part")
    val counts = slice.groupBy(key).count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val maxN = math.max(1L, if (counts.isEmpty) 1L else counts.values.max)
    val numBits = graft.operators.SkipIndex.optimalBits(maxN, fpp)
    val sketches = slice.groupBy(key)
      .agg(graft.operators.BloomJoin.bloomAgg(col("id"), maxN, numBits)
        .as("sketch"),
        org.apache.spark.sql.functions.count(lit(1)).as("cnt"))
    import spark.implicits._
    val fps = scope.toSeq.map { case (v, fl) =>
      (v.orNull, fingerprintOf(fl))
    }.toDF("part_f", "fp")
    sketches.join(broadcast(fps), col("part") <=> col("part_f"), "inner")
      .select(col("part"), col("fp"), col("cnt"), col("sketch"))
  }

  /** Replace `<root>/_skip` with `rows` via tmp + swap: a torn swap
    * (copy+delete rename) leaves either no index or a parse failure —
    * both degrade to the exact full probe. The plan in `rows` may read
    * the OLD index (refresh does); it executes during the tmp write,
    * before the old directory is touched. The tmp name is unique per
    * call: CONCURRENT refreshes (two shared-gate ingests refreshing
    * disjoint shards) must not tear each other's scratch — their swaps
    * then race last-wins, and the loser's refreshed shards merely read
    * as fingerprint-stale (= probed exactly, never wrong). Stranded
    * tmps from a crash are swept by [[vacuum]]. */
  private def writeSkipIndex(rows: DataFrame): Unit = {
    val fs = fsOfRoot
    val tmp = new org.apache.hadoop.fs.Path(cfg.location,
      s"_skip__tmp_${java.util.UUID.randomUUID()}")
    LakeWriter.write(rows.coalesce(1), tmp, None, cfg.codec)
    fs.delete(skipPath, true)
    fs.rename(tmp, skipPath)
  }

  /** Post-maintenance index refresh, called by every rewrite path
    * after its commit (still under the writer lock): recompute sketches
    * for exactly the `affected` shards from the just-committed tree,
    * keep every other row as-is. Best-effort and only when an index
    * exists — a failure leaves fingerprint-mismatched (= stale = probed
    * exactly) entries, never wrong ones. Cost tracks the affected
    * shards, like the rewrite itself. Refreshed sketches use the
    * default 1% fpp regardless of the original build's setting (fpp is
    * not stored; a full [[buildSkipIndex]] restores a custom one). */
  private def refreshSkipIndex(st: LakeState,
      affected: Set[Option[String]]): Unit = try {
    val fs = fsOfRoot
    if (affected.isEmpty || readSkipIndex(fs).isEmpty) return
    val partFiles = fs.listStatus(skipPath)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
    val keep = spark.read.parquet(partFiles.toSeq: _*)
      .select("part", "fp", "cnt", "sketch")
      .where(!affected.toSeq.map(v => col("part") <=> lit(v.orNull))
        .reduce(_ || _))
    // list ONLY the affected directories: kept rows reuse their stored
    // fingerprints, so the refresh's LIST cost tracks the rewrite's.
    // The sketches read exactly those resolved files: `st` is the state
    // just committed, so no second resolution is needed
    val resolved = resolveFiles(fs, st, liveEntries(st).filter { case (d, _) =>
      affected.contains(dirValue(d)) }, "skip refresh")
    val refreshed =
      if (resolved.isEmpty) keep // every affected shard fully emptied
      else keep.unionByName(skipRows(
        readFileSlice(resolved.flatMap { case ((d, g), fl) => fl.map((d, g, _)) },
          extraFieldsOf(st)),
        byShard(resolved), fpp = 0.01))
    writeSkipIndex(refreshed)
  } catch { case scala.util.control.NonFatal(_) => () } // stale = safe

  // ------------------------------------------------------------ zone map --

  /** Zone stats ([[ZoneStats]]) of `files` (entry → its files), keyed by
    * entry and file name: per file its rows, its rows with a non-null
    * `timestamp` (min and max ignore nulls, so only `tsRows == rows`
    * proves a file holds no null-timestamp row — the certificate
    * [[expire]]'s wholesale tier needs), the min and max `timestamp`, and
    * a (min, max) DOUBLE pair per metadata FIELD in `fields` (a value
    * that is not a number counts as absent). One Spark job over exactly
    * these files, map-side combinable: the shuffle carries one row per
    * file. The one place zone stats are computed. */
  private def zoneRows(files: Seq[((String, Long), Seq[LiveFile])],
      fields: Seq[String]): Map[((String, Long), String), ZoneStats] = {
    if (files.forall(_._2.isEmpty)) return Map.empty
    val fs = fsOfRoot
    val ts = col("timestamp")
    val aggs = Seq(org.apache.spark.sql.functions.count(lit(1)),
      org.apache.spark.sql.functions.count(ts),
      unix_micros(min(ts)), unix_micros(max(ts))) ++
      fields.flatMap { p =>
        val c = metadataField(p).try_cast(DoubleType)
        Seq(min(c), max(c))
      }
    val slice = readFileSlice(files.flatMap { case ((d, g), fl) =>
      val dir = fs.makeQualified(new org.apache.hadoop.fs.Path(genPath(g), d))
      fl.map(f => (d, g, graft.sources.GraftManifestFileIndex.status(dir, f.name, f.len, f.mod)))
    })
    slice.groupBy(input_file_name()).agg(aggs.head, aggs.tail: _*).collect().flatMap { r =>
      // input_file_name() is the file's percent-encoded URI
      val p = new org.apache.hadoop.fs.Path(new java.net.URI(r.getString(0)))
      def opt[A](i: Int)(get: Int => A): Option[A] = Option.unless(r.isNullAt(i))(get(i))
      p.getParent.getParent.getName match {
        case genDirRe(g) => Some(((p.getParent.getName, g.toLong), p.getName) ->
          ZoneStats(r.getLong(1), r.getLong(2), opt(3)(r.getLong), opt(4)(r.getLong),
            fields.indices.map(i => (opt(5 + 2 * i)(r.getDouble), opt(6 + 2 * i)(r.getDouble)))))
        case _ => None
      }
    }.toMap
  }

  /** `dirs` (directory → the files just written into it, in generation
    * `g`) with their zone stats when `st` keeps a zone map: a write
    * computes the stats of its own files before the commit that names
    * them, so the map never lags the lake. */
  private def withZoneStats(st: LakeState, g: Long,
      dirs: Seq[(String, Seq[LiveFile])]): Seq[(String, Seq[LiveFile])] =
    st.zoneFields.fold(dirs) { fields =>
      val stats = zoneRows(dirs.map { case (d, fl) => (d, g) -> fl }, fields)
      dirs.map { case (d, fl) => d -> fl.map(f => f.copy(stats = stats.get(((d, g), f.name)))) }
    }

  /** Build the per-file ZONE MAP: each live data file's zone stats
    * ([[ZoneStats]]: rows, min/max `timestamp`, and a (min, max) range per
    * metadata field in `fields`), committed in the sidecar entry that
    * names the file — the way Iceberg's `lower_bounds`/`upper_bounds` and
    * Delta's per-file `stats` ride their commits. LSH sharding scatters
    * rows by VECTOR, so a time-window read ([[readTimeRange]]) prunes
    * nothing at the directory level; but data files are IMMUTABLE in this
    * layout, so a committed range never goes stale, and the read drops
    * every file whose range cannot intersect the window. From this commit
    * on, every append and rewrite computes the stats of the files it
    * writes before its own commit ([[withZoneStats]]). A file without
    * stats is scanned (safe, merely unpruned). With time-correlated
    * appends (loaders ingest in rough time order) a window read opens
    * only the window's files — cost tracks the window, never lake size.
    *
    * `fields` are dotted paths into the nested-metadata JSON (the
    * `metadata_json` ingest column), each mapped as a per-file (min, max)
    * DOUBLE range and served by [[readFieldRange]]: pruning parquet
    * cannot give, since JSON-extracted fields have no column statistics.
    * The sidecar records them as `zone_fields`; building again with other
    * fields recomputes every file's stats. One Spark job and one sidecar
    * commit under the writer lock; a stream-owned lake is refused (its
    * sink's manifest, not the sidecar, names its files). The side table
    * earlier versions of this engine kept beside the data is deleted
    * after the commit. Returns the number of files mapped. */
  def buildZoneMap(fields: Seq[String] = Nil): Long = {
    require(fields.distinct.size == fields.size && fields.forall(_.nonEmpty),
      s"buildZoneMap fields must be distinct non-empty paths; got $fields")
    if (!rootExists) return 0L
    withWriterLock("buildZoneMap") {
      val (fs, entries, st0) = resolveState()
      if (!holdsData(fs, entries, st0)) return 0L
      requireRouting(st0)
      requireManifestGoverned("buildZoneMap", st0, entries)
      requireNoReshard(st0, "buildZoneMap")
      // the commit names every file it maps: an unrecorded current
      // generation is taken as recorded first, as an append does
      val st = editGenFiles(fs, st0)(identity)
      val files = resolveFiles(fs, st, st.live, "buildZoneMap")
        .map { case (e, fl) => e -> fl.map(LiveFile.of) }
      val stats = zoneRows(files, fields)
      writeState(st.copy(zoneFields = Some(fields), liveFiles = files.map { case (e, fl) =>
        e -> fl.map(f => f.copy(stats = stats.get((e, f.name)))) }.toMap))
      entries.map(_.getPath).filter(p => p.getName == "_zone" ||
        p.getName.startsWith("_zone__tmp")).foreach(fs.delete(_, true))
      stats.size.toLong
    }
  }

  /** Rows whose ingest `timestamp` lies in [from, to] — the zone-map
    * pruned time-window read: resolve the live files, drop every file
    * whose committed [min, max] `timestamp` cannot intersect the window,
    * scan the rest (files without stats included — never wrong, merely
    * unpruned), and apply the exact residual filter. Falls back to the
    * plain filtered [[read]] when the lake has no zone map, holds
    * root-level foreign data, is mid-reshard, or its current generation
    * is stream-owned (its manifest governs file visibility). Same rows
    * as `read().where(timestamp between ...)` ALWAYS; the map only cuts
    * files opened. */
  def readTimeRange(from: java.time.Instant, to: java.time.Instant): DataFrame = {
    val (base, residual) = timeWindowBase(from, to, None, "readTimeRange")
    base.where(residual)
  }

  /** The zone-pruned scan underneath [[readTimeRange]] and
    * [[topKInRange]]: (base frame, residual window predicate), the base
    * optionally cut to the partitions holding `scope`'s values (the
    * routed shards, a second file-level cut on top of the zone cut).
    * Callers must apply `residual` (and any shard predicate) for
    * exactness. */
  private def timeWindowBase(from: java.time.Instant, to: java.time.Instant,
      scope: Option[Set[Option[String]]], op: String): (DataFrame, Column) = {
    require(!from.isAfter(to), s"$op: from $from is after to $to")
    val (lo, hi) = (epochMicros(from), epochMicros(to))
    (zonePrunedBase(scope, op)(_ => Some((z: ZoneStats) =>
      (for (mn <- z.minTs; mx <- z.maxTs) yield mx >= lo && mn <= hi).getOrElse(true))),
      col("timestamp") >= lit(java.sql.Timestamp.from(from)) &&
        col("timestamp") <= lit(java.sql.Timestamp.from(to)))
  }

  /** `t` in epoch microseconds, rounded down: the value a `timestamp`
    * literal of `t` compares rows with. */
  private def epochMicros(t: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(t.getEpochSecond, 1000000L), t.getNano / 1000L)

  /** The zone-pruned scan shared by every range surface: the live files
    * — only the entries that can hold `scope`'s partition values when
    * given ([[readPartitions]]' scope) — whose committed zone stats
    * `verdict(st)` says may hold a row in range, decided on the driver
    * from the resolved state: no request and no Spark job of its own. A
    * file without stats is scanned. `verdict` answers None when the
    * state cannot prune the range (an unmapped field); then, as with no
    * zone map or a layout that forces it, the base is the plain [[read]].
    * Callers must apply their exact residual predicate. */
  private def zonePrunedBase(scope: Option[Set[Option[String]]], op: String)(
      verdict: LakeState => Option[ZoneStats => Boolean]): DataFrame = {
    val (fs, entries, st) = resolveState()
    requireRouting(st)
    // a file slice carries its directory's shard value as written, so
    // reshard-pending entries (narrower width, re-derived only by the
    // plain read) take the plain read until the reshard completes
    verdict(st).filter(_ => st.zoneFields.isDefined && holdsData(fs, entries, st) &&
        rootLevelDataFrom(entries).isEmpty && st.reshard.isEmpty && !streamOwned(st)) match {
      case None => readFrom(st, entries, scope)
      case Some(mayHold) =>
        val stats = zoneStatsOf(st)
        val keep = scope.map(inScope(st, _))
        readFileSlice(resolveFiles(fs, st, liveEntries(st).filter(e => keep.forall(_(e))), op)
          .flatMap { case ((d, g), fl) =>
            fl.filter(f => stats.get(f.getPath).forall(mayHold)).map((d, g, _)) },
          extraFieldsOf(st))
    }
  }

  /** Rows whose NESTED-METADATA numeric field `path` lies in [lo, hi]
    * — the curation-side twin of [[readTimeRange]], pruned by the
    * field's committed per-file (min, max) range when [[buildZoneMap]]
    * was given the path in `fields`. This is selectivity parquet cannot
    * provide: the field lives inside an opaque JSON string, so without
    * the map every "quality in [a, b]" / "n_chars < n" curation pass
    * opens every file. An unmapped path (or no map at all) falls back to
    * the plain filtered read — same rows, no cut. A range bound that is
    * NaN (Spark orders NaN above every number) or missing keeps its file.
    * Rows whose field is absent or non-numeric never match (null
    * semantics, both paths). */
  def readFieldRange(path: String, lo: Double, hi: Double): DataFrame = {
    require(lo <= hi, s"readFieldRange: lo $lo > hi $hi")
    val field = metadataField(path).cast(DoubleType)
    zonePrunedBase(None, "readFieldRange")(
      _.zoneFields.map(_.indexOf(path)).filter(_ >= 0).map(i => (z: ZoneStats) =>
        z.fields.lift(i) match {
          case Some((Some(mn), Some(mx))) if !mn.isNaN && !mx.isNaN => mx >= lo && mn <= hi
          case _ => true
        }))
      .where(field >= lit(lo) && field <= lit(hi))
  }

  /** FRESHNESS-SCOPED kNN: the k nearest rows whose ingest `timestamp`
    * lies in [from, to] — "retrieve only from the last week's data",
    * the recency-constrained serving shape a continuously-loaded corpus
    * needs. TWO file-level cuts compose before any distance work: LSH
    * routing keeps only the probed shards' directories (`nprobe` is the
    * same recall ladder as [[topKMultiProbe]]) and the zone map drops
    * every file outside the window — with time-correlated appends the
    * scan is (window ∩ routed shards) files, not the lake. Exact over
    * the scoped set: the residual time filter runs before the top-k, so
    * recall within the window matches [[topK]]/[[topKMultiProbe]]'s
    * contract (never the post-filter-a-short-list bug). Returns the
    * usual (stored cols..., dist) top-k frame. */
  def topKInRange(q: Seq[Double], k: Int,
      from: java.time.Instant, to: java.time.Instant,
      nprobe: Int = 1): DataFrame = {
    require(cfg.partitionKey.isEmpty,
      "topKInRange routes by the LSH shard column — a user-partitioned " +
        "lake has no LSH routing; use topKFiltered with a timestamp " +
        "predicate")
    requireNprobe(nprobe)
    val probes = probeShards(q, nprobe)
    val (base, residual) = timeWindowBase(from, to,
      Some(shardValues(probes)), "topKInRange")
    topKOver(base.where(residual && col(partCol).isin(probes: _*)), q, k)
  }

  /** Shards that might hold any id in `ids`, per the skip index:
    * `Some(values)` = probe only these (sketch hits plus every shard
    * whose fingerprint no longer matches — stale sketches never skip);
    * `None` = no usable index, probe everything. Absence, corruption,
    * or pre-v2 root data all yield `None`; a read error inside the
    * probe itself must never fail the calling op.
    *
    * The membership test runs driver-side against the collected
    * sketches: a point-read must not pay a Spark job just to decide
    * where to point, and a keyed rewrite holds its id set on the
    * driver already ([[rewriteRows]]). */
  private def skipCandidates(ids: Seq[String], st: LakeState,
      entries: Seq[org.apache.hadoop.fs.FileStatus]): Option[Set[Option[String]]] =
    skipProbe(st, entries) { sketches =>
      val hashes = ids.map(org.apache.spark.sql.GraftShims.xxhash64String)
      sketches.zipWithIndex.collect { case (b, i) if {
        val bf = org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(b))
        hashes.exists(bf.mightContainLong)
      } => i }.toSet
    }

  /** Shared core of [[skipCandidates]]: load + freshness-check the
    * index, delegate the sketch membership test, decode hit indices
    * back to partition values. */
  /** The stored index rows as (value → (fingerprint, sketch)); None
    * when absent or unreadable. The part FILES are read, not the
    * directory: the dir itself is underscore-prefixed (so the lake's
    * own data scans never see it), which Spark's DataSource path
    * filter treats as a non-data path — explicit file paths sidestep
    * that filter deterministically. */
  private def readSkipIndex(fs: org.apache.hadoop.fs.FileSystem)
      : Option[Map[Option[String], (String, Array[Byte])]] = {
    if (!fs.exists(skipPath)) return None
    val parts = fs.listStatus(skipPath)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
    if (parts.isEmpty) return None
    Some(spark.read.parquet(parts.toSeq: _*)
      .select("part", "fp", "sketch").collect()
      .map(r => Option(r.getString(0)) ->
        (r.getString(1), r.getAs[Array[Byte]]("sketch"))).toMap)
  }

  /** `st`/`entries` are the CALLER's resolved state and root listing —
    * the probe and the scan it prunes must share one snapshot, or an
    * unlocked [[lookup]] racing a shard-moving upsert could probe the
    * pre-commit shards and scan the post-commit tree, missing a row
    * that was live at both instants. */
  private def skipProbe(st: LakeState,
      entries: Seq[org.apache.hadoop.fs.FileStatus])(
      hitIdx: Array[Array[Byte]] => Set[Int]): Option[Set[Option[String]]] = {
    val fs = fsOfRoot
    try {
      if (rootLevelDataFrom(entries).nonEmpty) return None
      val idx = readSkipIndex(fs) match {
        case Some(m) => m
        case None => return None
      }
      val live = liveShardFiles(fs, st)
      if (live.isEmpty) return Some(Set.empty)
      val (fresh, stale) = live.partition { case (v, fl) =>
        idx.get(v).exists(_._1 == fingerprintOf(fl))
      }
      if (fresh.isEmpty) return None // nothing skippable: exact probe
      val freshSeq = fresh.keys.toSeq
      val hits = hitIdx(freshSeq.map(v => idx(v)._2).toArray)
      Some(hits.map(freshSeq).toSet ++ stale.keys)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Point-read by id — the serve-path row fetch. With a fresh skip
    * index the scan is pruned to the shards whose sketches match (for
    * a single id, typically ONE directory out of the whole lake); with
    * no index, a full exact probe. Identical rows either way. */
  def lookup(ids: Seq[String]): DataFrame = {
    require(ids.nonEmpty, "lookup needs at least one id")
    // ONE state resolution feeds both the candidate probe and the scan:
    // lookup takes no lock, so resolving twice would let a concurrent
    // shard-moving upsert slip between them and the pruned scan miss a
    // row that was live at both instants
    val (fs, entries, st) = resolveState()
    requireRouting(st)
    val pred = col("id").isin(ids: _*)
    skipCandidates(ids, st, entries) match {
      case Some(c) if c.isEmpty => readFrom(st, entries).where(lit(false))
      case Some(c) =>
        readFrom(st, entries, Some(c)).where(pred)
      case None => readFrom(st, entries).where(pred)
    }
  }

  /** DELETE by id list: [[rewriteRows]] removing an id set, with the
    * affected-shard discovery pruned by the skip index — with a fresh
    * index, a targeted delete reads only the shards that might hold the
    * ids instead of probing the whole lake. Returns rows deleted. */
  def deleteIds(ids: Seq[String]): Long =
    if (ids.isEmpty) 0L
    else lockedRewrite("deleteIds", 0L) { (fs, entries, st) =>
      rewriteRows(fs, entries, st, "deleteWhere", Right(ids.toSet))._1 }

  /** The commit half of every partition rewrite — [[rewriteRows]],
    * [[compact]], [[compactIncremental]] and [[repairFrom]], each
    * passing the root listing and the state it resolved under the
    * writer lock: write `content` (covering EXACTLY the `affected`
    * partition values) into a NEW generation ([[writeGeneration]]),
    * then COMMIT with one sidecar create whose manifest keeps every
    * unaffected directory at its existing location and drops every
    * affected one (the new tree, being current, is live by rule).
    * Unaffected directories are not read, not renamed, not touched —
    * bit-identical across the op. An affected value with no rewritten
    * directory means all its rows were removed: it simply leaves the
    * manifest; when nothing survives (a full [[compact]]) the new
    * generation is the whole live set. A crash anywhere before the
    * commit leaves the previous state fully live (the half-written
    * generation is unreferenced scratch for [[vacuum]]/[[repair]]).
    * Returns the number of data files written. */
  private def rewritePartitions(fs: org.apache.hadoop.fs.FileSystem,
      entries: Seq[org.apache.hadoop.fs.FileStatus], st: LakeState,
      affected: Set[Option[String]], content: DataFrame, expectedRows: Long,
      tag: String, slices: Map[Option[String], Long] = Map.empty,
      clusterBy: Seq[Column] = Nil): Long = {
    requireNoReshard(st, tag)
    requireManifestGoverned(tag, st, entries)
    val newGen = nextGen(st, entries)
    val produced = writeGeneration(newGen, content, expectedRows, tag,
      affected.contains, slices, clusterBy)
    // COMMIT: unaffected dirs keep their existing generation (now named
    // explicitly, since the current-tree becomes non-current); affected
    // dirs' old copies fall out of the manifest — dead in place
    val survivors = liveEntries(st).filter { case (d, _) =>
      !affected.contains(dirValue(d))
    }
    // the new generation is current and records exactly the files
    // written into it, with their zone stats; the rest of the state
    // (extras, sink heads, zone stats) carries over
    val committed = st.copy(generation = newGen,
      live = survivors ++ produced.map(_._1 -> newGen),
      liveFiles = st.liveFiles ++ withZoneStats(st, newGen,
        produced.map { case (d, fl) => d -> fl.map(LiveFile.of) })
        .map { case (d, fl) => (d, newGen) -> fl },
      genRecorded = true, isSealed = false)
    writeState(committed)
    refreshSkipIndex(committed, affected)
    produced.map(_._2.size.toLong).sum
  }

  /** THE generation writer under every rewrite ([[rewritePartitions]]
    * and each [[reshard]] step): shape `content` — one file per
    * partition, or `slices` files per partition — write it as
    * generation `gen`, then check it before anyone commits it. The
    * check reads no data: each written file's Parquet footer holds its
    * row count, summed over the listing pool one file per task. A
    * row count other than `expectedRows` or a partition value that
    * `allowed` refuses aborts with the live state untouched and removes the
    * unreferenced tree. Returns the produced directories with their
    * data files (none when `expectedRows` is 0: nothing is written).
    *
    * Slices are hash-assigned by id, or RANGE-assigned over
    * (partition, `clusterBy`) when given: hash slices give byte-balanced
    * files that each span the shard's ENTIRE key range — one compaction
    * after time-correlated ingest and readTimeRange is back to opening
    * every file — while `repartitionByRange` samples the key
    * distribution and hands each task one contiguous band, so each file
    * carries a TIGHT (min, max) and the per-file zone map keeps pruning
    * (the sampler still balances rows per slice). The partition column
    * leads the local sort either way: the dynamic-partition writer adds
    * its OWN (non-stable) sort when rows are not ordered by it, which
    * would undo the clustering. */
  private def writeGeneration(gen: Long, content: DataFrame,
      expectedRows: Long, tag: String, allowed: Option[String] => Boolean,
      slices: Map[Option[String], Long] = Map.empty,
      clusterBy: Seq[Column] = Nil): Seq[(String, Seq[org.apache.hadoop.fs.FileStatus])] = {
    if (expectedRows == 0L) return Nil
    val fs = fsOfRoot
    val tmp = genPath(gen)
    // the caller's content shape (stored cols + extras + partCol) is
    // what the slice join below must re-project back to
    val outCols = content.columns.toSeq.map(col)
    val shaped =
      if (slices.isEmpty) byPartition(content)
      else {
        import spark.implicits._
        // null-safe LEFT join with a 1-slice default: a partition whose
        // value failed to map (or a null value) must still be rewritten —
        // dropping it here would be silent loss at the commit
        val sliceDf = broadcast(
          slices.toSeq.map { case (sh, n) => (sh.orNull, n) }
            .toDF(partCol + "_s", "n_slices")
            .withColumn(partCol + "_s", col(partCol + "_s").cast(
              if (cfg.partitionKey.isEmpty) IntegerType else cfg.partitionKeyType)))
        val total = math.max(1, math.min(slices.values.sum, Int.MaxValue).toInt)
        if (clusterBy.isEmpty)
          content
            .join(sliceDf, col(partCol) <=> col(partCol + "_s"), "left")
            .withColumn("_slice",
              pmod(abs(hash(col("id"))), coalesce(col("n_slices"), lit(1L))))
            .repartition(total, col(partCol), col("_slice"))
            .select(outCols: _*)
        else
          content
            .repartitionByRange(total, (col(partCol) +: clusterBy): _*)
            .select(outCols: _*)
      }
    def abort(why: String, cause: Throwable = null): Nothing =
      throw new IllegalStateException(
        s"partition rewrite ($tag) aborted: $why (live state untouched)", cause)
    try {
      // a failed write (a task whose file the store never shows, say)
      // aborts exactly like a failed check
      val written =
        try LakeWriter.write(
          if (clusterBy.isEmpty) shaped
          else shaped.sortWithinPartitions((col(partCol) +: clusterBy): _*),
          tmp, Some(partCol), cfg.codec)
        catch { case scala.util.control.NonFatal(e) =>
          abort(s"write failed: ${e.getMessage}", e) }
      val produced = written.groupBy(_.dir).toSeq.sortBy(_._1).map { case (d, ws) =>
        val dir = fs.makeQualified(new org.apache.hadoop.fs.Path(tmp, d))
        d -> ws.map(w => graft.sources.GraftManifestFileIndex.status(
          dir, w.file.name, w.file.len, w.file.mod))
      }
      val wrote =
        try footerRowsOf(produced.map(_._2))
        catch { case e: java.io.IOException =>
          abort(s"footer check failed: ${e.getMessage}", e) }
      if (wrote != expectedRows) abort(s"wrote $wrote rows, expected $expectedRows")
      val outOfScope = produced.map(p => dirValue(p._1)).filterNot(allowed)
      if (outOfScope.nonEmpty)
        abort(s"out-of-scope partitions ${outOfScope.map(_.orNull).mkString(", ")}")
      produced
    } catch { case scala.util.control.NonFatal(e) => fs.delete(tmp, true); throw e }
  }

  /** Rows in the data files of `groups`, from their Parquet footers
    * alone, one file per task of the listing pool (a fragmented shard
    * must not pay its footer round trips in series). */
  private def footerRowsOf(groups: Iterable[Seq[org.apache.hadoop.fs.FileStatus]]): Long =
    mapDirsPooled(groups.flatten.toSeq)(footerRows).sum

  /** Row count of one Parquet data file, from its footer alone. */
  private def footerRows(f: org.apache.hadoop.fs.FileStatus): Long =
    footerOf(f).getBlocks.asScala.map(_.getRowCount).sum

  /** The Parquet footer of one data file: one open, no data read, and no
    * listing (the status in hand carries the length). */
  private def footerOf(f: org.apache.hadoop.fs.FileStatus)
      : org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
        f, spark.sparkContext.hadoopConfiguration))
    try reader.getFooter finally reader.close()
  }

  /** Sweep DEAD storage — the VACUUM of this layout: generation trees
    * no longer referenced by the live sidecar (superseded by a
    * maintenance commit, or stranded by a crash before one) and
    * far-superseded sidecar versions. Nothing live is ever matched: the
    * live set is exactly (manifest entries ∪ current generation), and
    * this runs under the writer lock so no in-flight op's
    * not-yet-committed generation can be mistaken for dead.
    *
    * Retention window (`retainMs`): a reader that resolved its paths
    * BEFORE the vacuum and is still scanning a superseded generation
    * loses its files — the same tradeoff as any log-structured format's
    * VACUUM, and the same mitigation: only sweep generations that have
    * been dead LONGER than the window. A generation's death time is the
    * modification time of the first sidecar commit that no longer
    * references it (when every referencing commit has already aged out
    * of the kept-version window, the oldest retained commit's mtime
    * stands in — an upper bound, so the error direction is retaining
    * longer, never sweeping early). Set `retainMs` above your longest
    * query/job; dead-but-retained generations also keep [[readAt]]
    * snapshots servable for the window (snapshot SIDECARS are governed
    * by the separate `keptMetaVersions` count — a commit burst can
    * rotate one out sooner; the tree outliving its sidecar is harmless,
    * the version is simply refused by name). The default is 0 —
    * sweep everything dead now — because tests and single-session
    * maintenance want exactly that; production on shared storage
    * should pass hours.
    *
    * Crashed-writer recovery: a writer that died without reaching its
    * finally strands the `_lock` marker and every later mutation
    * (including this one) fails loudly. `vacuum(force = true)` skips
    * taking the lock and REMOVES the stranded marker — refusing when
    * the lock is younger than `lockMaxAgeMs` (default 10 min), because
    * a young lock usually means a LIVE writer that is merely slow, and
    * unlocking it would re-open the lost-update race the lock exists to
    * prevent. After confirming the writer is dead, pass
    * `lockMaxAgeMs = 0`.
    *
    * Returns the number of items removed (trees + sidecars + lock). */
  def vacuum(force: Boolean = false, lockMaxAgeMs: Long = 600000L,
      retainMs: Long = 0L): Long = {
    val fs = fsOfRoot
    val root = new org.apache.hadoop.fs.Path(cfg.location)
    if (!fs.exists(root)) return 0L
    if (!force) return withWriterLock("vacuum")(sweepDead(fs, retainMs))
    val lock = new org.apache.hadoop.fs.Path(cfg.location, lockName)
    var removed = 0L
    // AGE-CHECK EVERYTHING FIRST, delete only after every check passes:
    // a "refused" force-vacuum must leave lock state untouched — deleting
    // the stale _lock and then throwing on a young append marker would
    // mutate the lake while telling the caller nothing happened
    val now = System.currentTimeMillis()
    val staleLock: Option[org.apache.hadoop.fs.Path] =
      if (!fs.exists(lock)) None
      else {
        val age = now - fs.getFileStatus(lock).getModificationTime
        if (age < lockMaxAgeMs) throw new IllegalStateException(
          s"vacuum(force) refused: writer lock $lock is only ${age} ms old " +
            s"(threshold $lockMaxAgeMs) — the writer may still be LIVE " +
            "(slow, not crashed), and unlocking it would re-open the " +
            "lost-update race. Wait it out, or pass lockMaxAgeMs = 0 after " +
            "confirming the writer is dead.")
        Some(lock)
      }
    // stranded SHARED append markers (a crashed appender's) block every
    // maintenance op the same way a stranded _lock does — un-strand them
    // under the same age discipline: a young marker is a LIVE appender
    // until proven otherwise
    val staleMarkers = appendMarkers(fs)
    staleMarkers.foreach { m =>
      val age = now - m.getModificationTime
      if (age < lockMaxAgeMs) throw new IllegalStateException(
        s"vacuum(force) refused: append marker ${m.getPath} is only " +
          s"${age} ms old (threshold $lockMaxAgeMs) — the appender may " +
          "still be LIVE; wait it out, or pass lockMaxAgeMs = 0 after " +
          "confirming it is dead.")
    }
    staleLock.foreach(l => if (fs.delete(l, false)) removed += 1L)
    staleMarkers.foreach(m =>
      if (fs.delete(m.getPath, false)) removed += 1L)
    // the sweep itself still runs LOCKED — force only un-strands the
    // dead writer's marker; sweeping unlocked would let a writer that
    // acquires the lock right now have its in-flight generation
    // mistaken for dead and deleted mid-op
    removed + withWriterLock("vacuum")(sweepDead(fs, retainMs))
  }

  private def sweepDead(fs: org.apache.hadoop.fs.FileSystem,
      retainMs: Long): Long = {
    // one root listing (taken under the lock, which only this sweep
    // holds) serves the state, the commit clock and both sweeps below
    val (_, entries, st) = resolveState()
    val liveGens = (st.live.map(_._2) :+ st.generation).toSet
    val now = System.currentTimeMillis()
    // The commit clock for the retention window: every retained sidecar
    // as (version, mtime, generations it references). Bounded work —
    // keptMetaVersions+1 small files plus one per retained SEALED sync
    // point, read once per sweep (the sidecar sweep below reuses it
    // even with no window; vacuum is operator-invoked, so the
    // seal-proportional cost sits off every hot path).
    lazy val commits: Seq[(Long, Long, Set[Long])] =
      metaVersionsFrom(entries).sortBy(_._1).map { case (v, p) =>
        // a torn version committed nothing: it references no generation
        val gens =
          try {
            val s = stateOfSidecar(fs, p)
            (s.live.map(_._2) :+ s.generation).toSet
          } catch { case _: ControlFiles.Unparseable => Set.empty[Long] }
        (v, fs.getFileStatus(p).getModificationTime, gens)
      }
    def tombstone(g: Long) =
      new org.apache.hadoop.fs.Path(cfg.location, s"_dead.$g")
    def diedWithinWindow(g: Long): Boolean = retainMs > 0L && {
      val lastRef = commits.filter(_._3.contains(g))
        .map(_._1).maxOption.getOrElse(Long.MinValue)
      val byCommit =
        if (lastRef == Long.MinValue) None
        else commits.collectFirst { case (v, mt, _) if v > lastRef => mt }
      byCommit match {
        case Some(death) => now - death < retainMs
        case None =>
          // every commit that knew this generation's death has rotated
          // out of the retained sidecars. The retained commits' mtimes
          // are useless as a clock here — steady appends keep rotating
          // the window, so "oldest retained commit" stays perpetually
          // recent and the generation would be retained FOREVER. Stamp
          // a tombstone at first observation instead: an upper bound on
          // death time (retains longer, never sweeps early) that stops
          // moving once written.
          val ts = tombstone(g)
          if (!fs.exists(ts)) {
            fs.create(ts, true).close()
            true // just stamped: the window starts now
          } else now - fs.getFileStatus(ts).getModificationTime < retainMs
      }
    }
    var removed = 0L
    entries.foreach { s =>
      s.getPath.getName match {
        case genDirRe(g) if s.isDirectory && !liveGens.contains(g.toLong)
            && !diedWithinWindow(g.toLong) =>
          if (fs.delete(s.getPath, true)) removed += 1L
          fs.delete(tombstone(g.toLong), false) // with its clock, if any
        case _ => ()
      }
    }
    // orphan tombstones (their generation already swept — e.g. by a
    // later retainMs=0 run — or never existed): plain cleanup. The
    // skip-index scratch dir is swept here too — a crash between its
    // write and its rename strands it, and nothing else removes it.
    val deadRe = """_dead\.(\d+)""".r
    entries.foreach { s =>
      s.getPath.getName match {
        case deadRe(g) if s.isFile && !fs.exists(genPath(g.toLong)) =>
          fs.delete(s.getPath, false); ()
        case n if n.startsWith("_skip__tmp") =>
          if (fs.delete(s.getPath, true)) removed += 1L
        // row-level DML staging (_rlo/<queryId>): writers stage BEFORE
        // the statement's apply takes the writer lock, so a live
        // statement's dir is age-protected — only a dir idle >10 min
        // (a crashed statement: the write job's last staging write and
        // its locked apply are adjacent in time) is a stranded leftover.
        // If a pathological sweep ever catches a live one, the commit
        // fails LOUDLY on the missing files (GraftDeltaWrite), never
        // silently applying a partial delta.
        case "_rlo" if s.isDirectory =>
          fs.listStatus(s.getPath).foreach { q =>
            if (now - q.getModificationTime > 600000L &&
                fs.delete(q.getPath, true)) removed += 1L
          }
          if (fs.listStatus(s.getPath).isEmpty) {
            fs.delete(s.getPath, false); ()
          }
        case _ => ()
      }
    }
    sweepUnnamed(fs, entries, st)
    if (commits.nonEmpty) {
      val latest = commits.map(_._1).max
      commits.filter { case (v, mt, _) =>
        v < latest - keptMetaVersions &&
          (retainMs <= 0L || now - mt >= retainMs)
      }.foreach { case (v, _, _) =>
        if (fs.delete(
            new org.apache.hadoop.fs.Path(cfg.location, s"_meta.$v.json"),
            false)) removed += 1L
      }
    }
    removed
  }

  /** Delete the data files no sidecar names: a crashed append's files,
    * a crashed sink attempt's. They are invisible to every read, and they
    * only ever appear in the tree of the generation that is current when
    * they are written (appends and sink attempts write nowhere else; a
    * rewrite's tree is named whole or swept whole as dead). So a sweep
    * run while generation g is current leaves a `_swept.<g>` marker, and
    * the next one looks only at the recorded directories of g and later
    * generations: a lake that did not roll its generation since pays one
    * LIST of the current tree plus one per current directory, however
    * many older directories it holds. Without a marker (the first sweep)
    * every recorded directory is looked at. Runs under the exclusive
    * lock, which excludes every in-flight append; `entries` is the root
    * listing the sweep took. The files are not counted in [[vacuum]]'s
    * result, which counts trees, sidecars and locks. */
  private def sweepUnnamed(fs: org.apache.hadoop.fs.FileSystem,
      entries: Seq[org.apache.hadoop.fs.FileStatus], st: LakeState): Unit = {
    val marks = entries.flatMap(s => s.getPath.getName match {
      case Lake.sweptRe(g) if s.isFile => Some(g.toLong -> s.getPath)
      case _ => None
    })
    unnamedFiles(fs, st, marks.map(_._1).maxOption.getOrElse(Long.MinValue))
      .foreach(f => fs.delete(f.getPath, false))
    if (!marks.exists(_._1 == st.generation))
      fs.create(new org.apache.hadoop.fs.Path(cfg.location,
        s"_swept.${st.generation}"), true).close()
    marks.filter(_._1 != st.generation).foreach(m => fs.delete(m._2, false))
  }

  /** The data files no sidecar names in the recorded directories of
    * generations `fromGen` and later. The current generation's tree,
    * when recorded, is listed whole, so a directory holding only unnamed
    * files counts too. One LIST per directory, on the listing pool. */
  private def unnamedFiles(fs: org.apache.hadoop.fs.FileSystem,
      st: LakeState, fromGen: Long): Seq[org.apache.hadoop.fs.FileStatus] = {
    val named = recordedFiles(st).filter(_._1._2 >= fromGen)
    val current =
      if (!st.genRecorded || st.generation < fromGen) Nil
      else try fs.listStatus(genPath(st.generation)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .map(_.getPath.getName -> st.generation)
      catch { case _: java.io.FileNotFoundException => Nil }
    mapDirsPooled((named.keys.toSeq ++ current).distinct) { case e @ (d, g) =>
      val keep = named.getOrElse(e, Nil).map(_._1.getPath.getName).toSet
      try dataFilesIn(fs, new org.apache.hadoop.fs.Path(genPath(g), d))
        .filterNot(f => keep(f.getPath.getName))
      catch { case _: java.io.FileNotFoundException => Nil }
    }.flatten
  }

  /** Crash RECOVERY — in layout v2, a one-liner by construction: every
    * maintenance op writes a NEW generation and commits with one
    * sidecar create, so a crash at ANY point leaves the committed state
    * fully live and loses zero rows; there is no swap window and
    * nothing to roll back. What a crash strands is scratch — the
    * uncommitted generation tree and the writer lock — and repair
    * sweeps both (a force-[[vacuum]] with no lock-age threshold: repair
    * is the operator's explicit "the writer is dead" assertion).
    * Returns the number of items swept. */
  def repair(): Long = vacuum(force = true, lockMaxAgeMs = 0L)

  /** Integrity audit — the CHECK TABLE of this layout, one scan, one
    * row out: `(rows, misrouted, dup_ids, bad_packed, bad_pq,
    * bad_dim)`. Every stored invariant the maintenance ops rely on is
    * recomputed and counted rather than assumed:
    *
    *  - `misrouted`: rows whose directory shard ≠ the LSH route of
    *    their own vector (a foreign file dropped into a shard dir, or
    *    data written under a different routing config before the
    *    sidecar pin) — pruned queries silently miss these rows;
    *  - `dup_ids`: rows minus distinct ids — upsert's identity
    *    invariant;
    *  - `bad_packed` / `bad_pq`: materialized aux words that no longer
    *    equal their recomputation from the vector (−1 when the column
    *    is not configured) — compressed retrieval reads these bytes as
    *    truth;
    *  - `bad_dim`: rows whose vector length ≠ the sidecar-pinned
    *    `cfg.dim` (a foreign file with wrong-dimension vectors — the
    *    session-vs-sidecar dim mismatch is already refused at read by
    *    the routing check, so what this catches is wrong-dim DATA
    *    under a correct config; a null vector also lands here);
    *  - `missing_files`: files the state names that are gone from the
    *    store (an out-of-band move or delete), found by the footer sweep
    *    with no listing; the audit reads the rest. Data files no sidecar
    *    names (a crashed append's, a foreign writer's) are not part of
    *    the lake: never read as rows, and [[vacuum]] deletes them.
    *
    * All checks are map-side expressions into one aggregate; at 100 TB
    * this costs exactly one full scan, the floor for any audit that
    * reads every row. Zero everywhere (and -1 for unconfigured
    * columns) = healthy. */
  /** Shards whose skip-index fingerprint no longer matches the live
    * file set; -1 = no index present (shared by [[validate]] and
    * [[maintain]]). Driver-side metadata only. */
  private def skipStaleCount(
      files: => Map[Option[String], Seq[org.apache.hadoop.fs.FileStatus]]): Long = try {
    readSkipIndex(fsOfRoot) match {
      case None => -1L
      case Some(idx) =>
        files.count { case (v, fl) => !idx.get(v).exists(_._1 == fingerprintOf(fl)) }.toLong
    }
  } catch { case scala.util.control.NonFatal(_) => -1L }

  /** ONE-CALL MAINTENANCE POLICY — what a platform team crons. Reads
    * the lake's own health signals and runs ONLY the work they
    * justify, so repeated calls on a converged lake are cheap no-ops
    * and a churned lake converges in one or two calls:
    *
    *  1. [[compactIncremental]] — rewrites only shards whose file
    *     count exceeds what their bytes justify (clean shards stay
    *     bit-identical);
    *  2. [[buildSkipIndex]] — only when [[skipStaleCount]] shows
    *     shards whose sketches no longer match their live files, and
    *     only if an index exists (maintain refreshes, never installs);
    *  3. [[vacuum]]`(retainMs)` — sweeps dead generations and
    *     superseded sidecars older than the consumer window.
    *
    * Each step takes the exclusive writer lock itself; a collision
    * with in-flight appends throws `ConcurrentModificationException`
    * like any maintenance op — retry on the next cadence tick. Work
    * per call is bounded by what actually churned: O(dirty shards)
    * rewrite + O(shards) index refresh + O(dead dirs) sweep. The zone
    * map needs no step: every commit carries its files' stats.
    * Returns what ran. */
  /** Per-shard BYTE totals over the live set ([[liveShardFiles]]),
    * summarized as (max, median): the probe-cost signal behind the
    * `reshard_recommended` verdict — a single-probe topK reads one
    * shard directory, so its cost tracks the largest directory (the
    * worst-routed query) against the typical one. Recorded sizes, no
    * row reads — cheap enough for every [[maintain]]/[[validate]]
    * tick. */
  private def shardSkewStats(
      files: Map[Option[String], Seq[org.apache.hadoop.fs.FileStatus]]): Option[(Long, Long)] = {
    val perShard = files.values.map(_.map(_.getLen).sum).toSeq.sorted
    if (perShard.isEmpty) None
    else Some((perShard.max, perShard(perShard.size / 2)))
  }

  def maintain(targetBytes: Long = 128L * 1024L * 1024L,
      maxFilesPerShard: Int = 4,
      retainMs: Long = 7L * 24 * 3600 * 1000,
      clusterBy: Seq[Column] = Nil,
      ttlMs: Long = -1L,
      targetShardBytes: Long = Lake.defaultTargetShardBytes): Lake.MaintenanceReport = {
    // ONE sidecar read serves the emptiness check and the tick's own
    // telemetry (reshard state, shard skew) — each sub-op below still
    // re-reads under its own lock, which is the serialization that
    // matters. An in-flight reshard owns the structure: the rewrite
    // steps (compact/expire/index builds) would be refused anyway, so
    // skip them quietly, keep the always-safe vacuum + recalibration,
    // and surface the pending count — the cron-driven maintain() tick
    // stays a useful health probe mid-reshard instead of a throw
    val (fs, entries, tickState) = resolveState()
    if (!holdsData(fs, entries, tickState))
      return Lake.MaintenanceReport(0L, false, 0L)
    val reshardInFlight = tickState.reshard.map(r =>
      (1L << r.fromBits, 1L << r.toBits, r.pending.size.toLong))
    // shard-health telemetry reads the PRE-maintenance state
    // deliberately: the tick's own compaction/expiry do not change
    // per-shard BYTE skew materially (they rewrite within shards), and
    // one state serves the whole report. Best-effort: a live directory
    // swept between the state read and its listing (a concurrent
    // compaction + vacuum elsewhere) leaves the skew unknown instead of
    // failing the tick before its maintenance runs
    val skew =
      try shardSkewStats(liveShardFiles(fs, tickState))
      catch { case scala.util.control.NonFatal(_) => None }
    // retention FIRST: rows about to expire must not be paid for again
    // by the compaction rewrite below (and a wholesale retirement may
    // itself leave shards under the file-count slack). ttlMs < 0 = off.
    val expired =
      if (ttlMs < 0L || reshardInFlight.isDefined) 0L
      else {
        val (a, b) = expire(java.time.Instant.now().minusMillis(ttlMs))
        a + b
      }
    val compacted =
      if (reshardInFlight.isDefined) 0L
      else compactIncremental(targetBytes,
        clusterBy = clusterBy, maxFilesPerShard = maxFilesPerShard)
    val skip = reshardInFlight.isEmpty &&
      skipStaleCount(liveShardFiles(fsOfRoot, readState())) > 0L && {
      buildSkipIndex(); true }
    val swept = vacuum(retainMs = retainMs)
    // recall-ladder freshness: re-calibrate exactly when churn since
    // the last calibration crossed the drift threshold
    // ([[recallCalibStale]] scaladoc — a no-op maintain() pays one
    // sidecar read here, nothing else), reusing the persisted (k,
    // sample) so the refreshed ladder is comparable to the old one
    val recalibrated = recallCalibStale().contains(true) && {
      // a drained lake (churn = everything deleted) reads as maximally
      // stale but has nothing to sample — skip rather than fail the
      // whole maintenance tick; the stale calibration stays inert until
      // rows return (topKAtRecall on an empty lake returns empty rows
      // regardless of ladder)
      if (!exists()) false
      else {
        val params = try recallCalib().flatMap(c =>
          for (k <- c.k; sample <- c.sample) yield (k, sample))
        catch { case _: ControlFiles.Unparseable => None }
        params match {
          case Some((k, sample)) => calibrateRecall(k, sample)
          case None => calibrateRecall()
        }
        true
      }
    }
    // the oversized-shard signal says a reshard is JUSTIFIED work —
    // never auto-runs one (a reshard is an operator decision: it
    // rewrites the lake once and temporarily refuses other
    // maintenance); mid-reshard the recommendation stays down and the
    // pending count reports progress instead
    Lake.MaintenanceReport(compacted, skip, swept, recalibrated,
      expired,
      maxShardBytes = skew.map(_._1).getOrElse(0L),
      medianShardBytes = skew.map(_._2).getOrElse(0L),
      reshardRecommended = reshardInFlight.isEmpty &&
        skew.exists(_._1 > targetShardBytes),
      reshardPendingDirs = reshardInFlight.map(_._3).getOrElse(0L))
  }

  def validate(targetShardBytes: Long = Lake.defaultTargetShardBytes): DataFrame = {
    // ONE state read serves the audited rows and every driver-side audit
    // input below (skew, reshard state, drift, the stored-column set,
    // the extras) — one snapshot, and one remote GET on an object store
    val (fs, entries, resolved) = resolveState()
    requireRouting(resolved)
    // FOOTER audit (round 11): the O(live files) footer sweep that used
    // to run on EVERY read now runs only here, where an audit-priced
    // pass belongs. One resolution of the live files feeds it, on the
    // listing pool, and it answers two questions: which data columns any
    // live manifest-governed file carries beyond the declared stored set
    // (an out-of-contract foreign write; the pinned-schema read serves
    // such a file null-padded/projected instead of failing), and which
    // named files are gone from the store (an out-of-band move or
    // delete) — those are counted and left out of every audit below.
    // Other unreadable footers surface as the read error they are.
    val resolvedFiles = resolveFiles(fs, resolved, liveEntries(resolved), "shard files")
    val footers = mapDirsPooled(resolvedFiles.flatMap { case (e, fl) => fl.map(e -> _) }) {
      case (e, f) => (e, f.getPath.getName,
        try Some(footerOf(f).getFileMetaData.getSchema.getFields.asScala.map(_.getName))
        catch { case _: java.io.FileNotFoundException => None })
    }
    val missing = footers.collect { case (e, n, None) => (e, n) }.toSet
    val auditState = resolved.copy(lost = missing)
    val df = readFrom(auditState, entries)
    // the same files serve skew and skip-index staleness
    val files = byShard(resolvedFiles.map { case (e, fl) =>
      e -> fl.filterNot(f => missing((e, f.getPath.getName))) })
    val skew = shardSkewStats(files)
    val pendingDirs = auditState.reshard.map(_.pending.size.toLong).getOrElse(0L)
    // -1 = no live files to audit
    val driftCols: Long =
      if (files.values.forall(_.isEmpty)) -1L
      else {
        val stored = footers.flatMap(_._3).flatten.map(_.toLowerCase).toSet
        val declared = (storedColsOf(auditState) :+ partCol)
          .map(_.toLowerCase).toSet
        (stored -- declared).size.toLong
      }
    // every branch must be an AGGREGATE expression (a bare literal is
    // rejected by agg); "not configured" = max of a constant -1
    def unconfigured: Column = coalesce(max(lit(-1L)), lit(-1L))
    def violations(pred: Column): Column =
      coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L))
    val misrouted: Column =
      if (cfg.partitionKey.isEmpty)
        violations(col(partCol) =!= lsh.shardCol(col("vector")))
      else unconfigured // user-keyed: any partition value is by definition correct
    val badPacked: Column =
      if (cfg.packSignBits)
        violations(col("packed") =!= V.signPack(col("vector")))
      else unconfigured
    val badPq: Column = cfg.pqCodebooks.map { m =>
      val recomputed = (0 until m.m).map(mi =>
        shiftleft(m.codeCol(col("vector"), mi).cast("long"), 8 * mi))
        .reduce(_ + _)
      violations(col("pq_code") =!= recomputed)
    }.getOrElse(unconfigured)
    // skip-index health, computed driver-side from listings (it is
    // metadata, not rows): shards whose recorded fingerprint no longer
    // matches the live file set; -1 = no index present
    val skipStale: Long = skipStaleCount(files)
    // functions.count is shadowed by Lake.count() inside this class
    val rowsAgg = org.apache.spark.sql.functions.count(lit(1))
    // schema-evolution drift visibility: rows all-null across every
    // registered extra column predate the evolution (or lost their
    // values); -1 = no extras registered
    val preEvolve: Column = extraFieldsOf(auditState) match {
      case Nil => unconfigured
      case ex => violations(ex.map(f => col(f.name).isNull).reduce(_ && _))
    }
    df.agg(
      rowsAgg.as("rows"),
      misrouted.as("misrouted"),
      (rowsAgg - countDistinct(col("id"))).as("dup_ids"),
      badPacked.as("bad_packed"),
      badPq.as("bad_pq"),
      violations(coalesce(size(col("vector")), lit(-1)) =!= cfg.dim)
        .as("bad_dim"),
      preEvolve.as("pre_evolve_rows"))
      .withColumn("skip_stale", lit(skipStale))
      // shard-health skew (driver-side listings, like skip_stale):
      // max vs median live bytes per shard — the probe-cost estimate a
      // single-probe query pays on its worst vs typical route — plus
      // the reshard signals; -1 = empty lake / no shards
      .withColumn("max_shard_bytes", lit(skew.map(_._1).getOrElse(-1L)))
      .withColumn("median_shard_bytes", lit(skew.map(_._2).getOrElse(-1L)))
      .withColumn("reshard_pending_dirs", lit(pendingDirs))
      // same threshold semantics as maintain(targetShardBytes) — pass
      // the deployment's tuned value for a consistent verdict (the
      // no-arg form and the SQL `validate` view use the default)
      .withColumn("reshard_recommended",
        lit(pendingDirs == 0L && skew.exists(_._1 > targetShardBytes)))
      .withColumn("drift_cols", lit(driftCols))
      .withColumn("missing_files", lit(missing.size.toLong))
  }

  /** Test/tooling hook: the current generation's subtree path (appends
    * and the streaming sink land here). */
  private[graft] def currentGenDir: String =
    genPath(readState().generation).toString

  /** Test/tooling hook: every live partition directory as
    * (escaped-dir-name, full path) — one dir name may appear under
    * several generations. */
  private[graft] def liveDirPaths(): Seq[(String, org.apache.hadoop.fs.Path)] =
    liveEntries(readState()).map { case (d, g) =>
      d -> new org.apache.hadoop.fs.Path(genPath(g), d)
    }

  /** The sidecar's `last_update` stamp — rewritten by every completed
    * write/maintenance op (and per data-carrying micro-batch on the
    * streaming path); None before any write. A cheap CHANGE TOKEN for
    * snapshot consumers: pair with
    * `DedupStreaming.CorpusGate.refreshIfChanged` to re-snapshot a
    * corpus exactly when the lake actually changed, instead of on a
    * blind timer (reference parity: its readers re-check the parquet
    * attrs stamp the same way, index.py:296-305). */
  def lastUpdate(): Option[String] = readState().lastUpdate

  /** Best-effort recursive delete (reference S5, index.py:312-325,548-563). */
  def delete(): Unit = {
    val p = new org.apache.hadoop.fs.Path(cfg.location)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** True iff the lake holds DATA: a live manifest entry or a partition
    * directory / parquet file in the current generation's tree. A
    * location carrying only sidecar / `_SUCCESS` markers (e.g. after
    * `deleteWhere` retired every shard) counts as empty — the parquet
    * reader cannot infer a schema from markers alone, so every data
    * path must take the bootstrap branch. */
  def exists(): Boolean = {
    val (fs, entries, st) = resolveState()
    holdsData(fs, entries, st)
  }

  /** Whether `st`'s current generation holds data: the files it records,
    * or (unrecorded) what its tree shows. */
  private def holdsCurrentData(fs: org.apache.hadoop.fs.FileSystem,
      st: LakeState): Boolean =
    if (st.genRecorded) st.live.exists(_._2 == st.generation)
    else treeHasData(fs, genPath(st.generation))

  /** [[exists]] over a state the caller already resolved. */
  private def holdsData(fs: org.apache.hadoop.fs.FileSystem,
      entries: Seq[org.apache.hadoop.fs.FileStatus], st: LakeState): Boolean =
    st.live.exists(_._2 != st.generation) || holdsCurrentData(fs, st) ||
      rootLevelDataFrom(entries).nonEmpty

  /** The live-data pointer + config stamp, stored as VERSIONED sidecar
    * files `_meta.<v>.json` under the root — the commit point of every
    * maintenance op (layout v2). Replaces the reference's parquet-attrs
    * `last_update` stamp (index.py:296-305) and adds what the reference
    * has no answer for: object-store-atomic maintenance. Each write
    * CREATES a NEW version (exclusive create — an atomic PUT of a new
    * key on any store, never an in-place truncate a reader could catch
    * half-written); readers take the highest version. A handful of
    * superseded versions are kept for readers that listed just before a
    * commit; older ones are swept here and by [[vacuum]]. */
  private def fsOfRoot: org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(cfg.location)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One listing of the root — the shared basis for sidecar-version
    * discovery, root-level-data detection, and generation-dir checks,
    * so a hot-path read() pays ONE LIST round trip, not one per
    * concern (an object-store latency tax otherwise). */
  private def listRoot(fs: org.apache.hadoop.fs.FileSystem): Seq[org.apache.hadoop.fs.FileStatus] = {
    val root = new org.apache.hadoop.fs.Path(cfg.location)
    def once(): Seq[org.apache.hadoop.fs.FileStatus] =
      if (!fs.exists(root)) Nil else fs.listStatus(root).toSeq
    // a directory listing under concurrent churn is NOT a snapshot: a
    // readdir racing the sidecar rotation's create/delete can
    // transiently miss an entry that existed throughout. A listing that
    // shows generation data but NO sidecar is that race's signature —
    // a lake with a generation tree always has a sidecar (the first
    // append commits one before returning) except for the short
    // first-ingest window, so re-list briefly before believing it.
    // Downstream, a missed sidecar would not fail loudly: readState
    // would fall back to the DEFAULT state and a read would silently
    // serve only the current generation, dropping every manifest-named
    // directory.
    var entries = once()
    def hasSidecar(es: Seq[org.apache.hadoop.fs.FileStatus]): Boolean =
      es.exists(s => s.isFile && (s.getPath.getName == "_meta.json" ||
        metaNameRe.pattern.matcher(s.getPath.getName).matches()))
    // the race signature is DATA visible with no sidecar: generation
    // trees, or root-level data (an adopted pre-v2 flat lake whose
    // bootstrap/re-stamp rotations can transiently hide its versioned
    // sidecar from a racing readdir — gating on gen dirs alone would
    // hand such a reader the silent default state)
    def looksRacy(es: Seq[org.apache.hadoop.fs.FileStatus]): Boolean =
      es.nonEmpty && !hasSidecar(es) &&
        (es.exists(s => s.isDirectory &&
          Lake.genDirRe.pattern.matcher(s.getPath.getName).matches()) ||
          rootLevelDataFrom(es).nonEmpty)
    // retry gating: the race signature (gen data, no sidecar) has two
    // benign look-alikes — a FIRST ingest legitimately in flight (its
    // sidecar commits only after the data lands, possibly seconds
    // later) and a crash-stranded first ingest (permanent until
    // repair). Retrying forever against those taxes every read path
    // ~150 ms, but NEVER retrying reopens the silent default-state
    // read on a genuine rotation miss. The discriminator is history:
    // once THIS instance has seen a sidecar, a later sidecarless
    // listing can only be a transient miss (sidecars are rotated,
    // never all deleted) — always retry. Before any sidecar was ever
    // seen, pay the retries once (the first listing may genuinely
    // race a first commit) and then stop.
    if (hasSidecar(entries)) sidecarSeen = true
    var tries = 0
    while (tries < 3 && looksRacy(entries) &&
        (sidecarSeen || !sidecarlessChecked)) {
      tries += 1
      Thread.sleep(25L * tries)
      entries = once()
      if (hasSidecar(entries)) sidecarSeen = true
    }
    if (!sidecarSeen && looksRacy(entries)) sidecarlessChecked = true
    entries
  }

  /** listRoot retry-gating state (scaladoc at the use site): whether
    * this instance ever observed a committed sidecar (=> sidecarless
    * listings are transient misses, always worth retrying), and
    * whether the one pre-sidecar retry round was already spent. */
  @volatile private var sidecarSeen = false
  @volatile private var sidecarlessChecked = false

  private def metaVersions(fs: org.apache.hadoop.fs.FileSystem): Seq[(Long, org.apache.hadoop.fs.Path)] =
    metaVersionsFrom(listRoot(fs))

  /** State decoded from the newest parseable sidecar in a root listing
    * ([[Lake.stateFromListing]]). */
  private def readStateFrom(fs: org.apache.hadoop.fs.FileSystem,
      entries: Seq[org.apache.hadoop.fs.FileStatus]): LakeState = {
    // the listed newest version can be rotated out between the listing
    // and this read when writers are stamping rapidly (rotation keeps
    // the newest few, so two commits in the window retire the listed
    // max) — re-list and re-pick instead of failing a healthy lake
    var es = entries
    var tries = 0
    while (true) {
      try return stateFromListing(fs, cfg.location, es)
      catch {
        case _: java.io.FileNotFoundException if tries < 3 =>
          tries += 1
          Thread.sleep(25L * tries)
          es = listRoot(fs)
      }
    }
    LakeState(1L, Nil) // unreachable
  }

  /** One resolution of the lake: its filesystem, one root listing and
    * the state decoded from it. An op resolves once — under its lock or
    * gate when it takes one — and hands the triple down, so every check,
    * read, generation number and commit of the op sees one snapshot. */
  private def resolveState(): (org.apache.hadoop.fs.FileSystem,
      Seq[org.apache.hadoop.fs.FileStatus], LakeState) = {
    val fs = fsOfRoot
    val entries = listRoot(fs)
    (fs, entries, readStateFrom(fs, entries))
  }

  /** Current on-disk state: generation (the append target — its whole
    * tree is live) plus the manifest of live directories in OLDER
    * generations as (escaped-dir-name, generation) pairs. A lake with
    * no sidecar yet is generation 1 with an empty manifest. Only for
    * entry points that need the state alone. */
  private def readState(): LakeState = resolveState()._3

  /** Whether the root exists: one HEAD, no state read — the probe a
    * no-op maintenance op makes before its lock, so that on a missing
    * location it creates nothing. */
  private def rootExists: Boolean =
    fsOfRoot.exists(new org.apache.hadoop.fs.Path(cfg.location))

  /** Best-effort `last_update` stamp for the streaming path. The
    * read-modify-write runs UNDER the writer lock: an unlocked stamp
    * racing a maintenance commit could republish the stale pre-commit
    * state as the newest sidecar version — a lost update that the next
    * vacuum would turn into data loss (the `_spark_metadata` guard only
    * protects once the sink has written its manifest, which batch 0 may
    * not have yet). On contention the stamp is simply skipped; the next
    * data-carrying micro-batch retries. */
  private def stampQuietly(): Unit =
    try withWriterLock("stamp")(writeState(readState()))
    catch { case _: java.util.ConcurrentModificationException => () }

  /** Commit `st` (and refresh `last_update`) as sidecar version
    * latest+1 — the commit of every op holding the EXCLUSIVE writer lock
    * (maintenance, seal, evolve, the streaming stamp via
    * [[stampQuietly]]): the lock excludes every other committer, appends
    * included, so the version is free; finding it taken means the
    * exclusion was breached, and the commit fails loudly rather than
    * publishing over a version it never read. Shared-gate appends commit
    * through [[commitAppend]] instead. Returns the version written.
    * `sealedCommit` marks the version as a [[seal]] sync point — exempt
    * from the inline rotation (only [[vacuum]] retires sync points), and
    * resolved manifest-only by readers. */
  private def writeState(st: LakeState, sealedCommit: Boolean = false): Long = {
    val fs = fsOfRoot
    val entries = listRoot(fs)
    val v = latestVersion(entries) + 1
    if (!publishState(fs, entries, st, v, sealedCommit))
      throw new java.util.ConcurrentModificationException(
        s"sidecar commit at ${cfg.location}: version $v was created by " +
          "another writer while this one held the writer lock")
    v
  }

  /** The newest sidecar version a root listing shows (0: none). */
  private def latestVersion(entries: Seq[org.apache.hadoop.fs.FileStatus]): Long =
    metaVersionsFrom(entries).map(_._1).maxOption.getOrElse(0L)

  /** Commit an APPEND: `edit` applied to the newest committed state, as
    * the next sidecar version — the version that names the append's
    * files is its commit point. Appends share the gate, so two can race
    * for one version: the version create is create-if-absent
    * ([[Lake.createIfAbsent]]), and the loser re-reads the newest
    * version, applies `edit` to it again and retries, so no append's
    * files are lost. A newest version that does not decode yet may be a
    * rival's commit still landing (an exclusive create shows the file
    * before its whole body everywhere but on object stores): the loop
    * waits a little for it before treating it as torn. Maintenance is
    * excluded while the gate is held, so the generation cannot move
    * under the loop. `st` is the state the caller resolved; returns the
    * committed state, or None when `edit` declines to commit (a sink
    * batch the newest state already records). */
  private def commitAppend(fs: org.apache.hadoop.fs.FileSystem,
      st: LakeState)(edit: LakeState => Option[LakeState]): Option[LakeState] = {
    var base = st
    var waits = 0
    var attempts = 0
    while (true) {
      val entries = listRoot(fs)
      val latest = latestVersion(entries)
      if (base.version != latest) base = readStateFrom(fs, entries)
      if (base.version < latest && waits < 5) {
        waits += 1
        Thread.sleep(20L * waits)
      } else {
        if (base.generation != st.generation)
          throw new java.util.ConcurrentModificationException(
            s"append at ${cfg.location}: the generation moved from " +
              s"${st.generation} to ${base.generation} under the append gate")
        val next = edit(base).getOrElse(return None)
        if (publishState(fs, entries, next, latest + 1, sealedCommit = false))
          return Some(next.copy(version = latest + 1))
        attempts += 1
        require(attempts < 1000, s"append at ${cfg.location}: lost " +
          s"$attempts consecutive version creates — the store's " +
          "create-if-absent is failing, not racing")
      }
    }
    None // unreachable
  }

  /** Create sidecar version `v` committing `st`, if no version `v`
    * exists; false when one does. `entries` is the root listing the
    * version was chosen from: it serves the rotation and the stranded-
    * tmp sweep after a successful create. */
  private def publishState(fs: org.apache.hadoop.fs.FileSystem,
      entries: Seq[org.apache.hadoop.fs.FileStatus], st: LakeState, v: Long,
      sealedCommit: Boolean): Boolean = {
    // gen_has_data: whether the CURRENT generation's tree held data at
    // commit time — readAt's loud-failure contract needs to tell
    // "snapshot of an empty/manifest-only lake" apart from "snapshot
    // whose own generation was vacuumed". A recorded generation holds
    // exactly the files it names.
    val genHasData = holdsCurrentData(fs, st)
    // declared routing width: mid-reshard states declare the TARGET
    // width (the transition commit is written by the pre-reshard
    // session, whose own lsh is still the narrow one); otherwise the
    // carried sidecar width and the writer's are equal by the
    // per-write guard, and fresh states fall back to the writer's
    val numShards: Long =
      if (cfg.partitionKey.isDefined) -1L
      else st.reshard.map(r => 1L << r.toBits)
        .orElse(st.sidecarShards.filter(_ > 0))
        .getOrElse(lsh.numShards.toLong)
    // FILE-level manifest (guide §6): record each live entry's data
    // files AT COMMIT TIME so reads plan with zero per-directory
    // listings ([[ControlFiles.recordFiles]]). Every caller commits a
    // state derived from the one it resolved, carrying its recorded
    // map — appends add the files they wrote, rewrites the files of
    // their new generation — so entries carried forward reuse their
    // lists and only entries NEW to the manifest without a list (a
    // generation an older sidecar left unrecorded) are listed, once,
    // here. An UNRECORDED current generation (stream-owned, or never
    // committed through an append) is left out: that tree is live by
    // listing.
    val files = ControlFiles.recordFiles(
      if (st.genRecorded) st.live else st.live.filter(_._2 != st.generation),
      st.liveFiles, Map.empty[(String, Long), Seq[LiveFile]]) { case (d, g) =>
      dataFilesIn(fs, new org.apache.hadoop.fs.Path(genPath(g), d))
    }
    val json = ControlFiles.encode(ControlFiles.LakeSidecar.of(
      st, cfg, numShards, sealedCommit, genHasData, files))
    if (!Lake.createIfAbsent(fs,
        new org.apache.hadoop.fs.Path(cfg.location, s"_meta.$v.json"),
        json.getBytes("UTF-8"))) return false
    sealedCache.put(v, sealedCommit) // the rotation never re-reads our own
    // sweep far-superseded versions; keep a few for in-flight readers.
    // SEALED versions are exempt: they are the change-feed's sync
    // points, and consumers hold them across arbitrarily many commits —
    // only the operator-invoked vacuum() retires them. Sealedness is
    // memoized per version (immutable once written), so a long-lived
    // writer pays ONE control-file read per retained seal, not one per
    // commit; an UNREADABLE sidecar counts as sealed — failing open
    // here would let a transient read error delete a consumer's sync
    // point, the exact loss the exemption exists to prevent (vacuum
    // retires genuinely dead versions later).
    metaVersionsFrom(entries).filter(_._1 < v - keptMetaVersions)
      .filterNot { case (ver, p) =>
        sealedCache.getOrElseUpdate(ver,
          try stateOfSidecar(fs, p).isSealed
          catch { case scala.util.control.NonFatal(_) => true }) }
      .foreach(p => fs.delete(p._2, false))
    // stranded publish bodies (writers before the exclusive version
    // create staged each body as `_meta.tmp.*` and renamed it into
    // place; a JVM that died in between left it) are inert — no regex
    // matches them — but sweep the old ones anyway (from the
    // already-taken listing); age-gated
    try entries.foreach { s =>
      if (s.isFile && s.getPath.getName.startsWith("_meta.tmp.") &&
          System.currentTimeMillis() - s.getModificationTime > 3600000L)
        fs.delete(s.getPath, false)
    } catch { case scala.util.control.NonFatal(_) => () }
    true
  }

  /** Version → isSealed memo for the rotation exemption above (a
    * version's sealedness never changes once written; entries for
    * vacuum-retired versions are just dead keys, bounded by seals ever
    * observed in this session). */
  private val sealedCache =
    scala.collection.concurrent.TrieMap.empty[Long, Boolean]

  /** Stored `shard` values are only meaningful under the hyperplanes
    * that routed them — the routing analog of the PQ/IVF fingerprint
    * contract. A session configured with a different `numHashes` or
    * `seed` than the lake's writer would route queries under DIFFERENT
    * hyperplanes: single-probe topK prunes to the wrong directory and
    * returns wrong neighbors with no error, and ingest appends rows
    * whose shard disagrees with every stored row's. The sidecar records
    * (dim, num_shards, lsh_seed); any read or write under a mismatched
    * config fails loudly here, checked against the state the operation
    * already decoded (zero extra I/O) — pre-seed sidecars (no lsh_seed
    * field) check what they carry. */
  private def requireRouting(st: LakeState): Unit =
    st.config.foreach { c =>
      c.dim.foreach(d => require(d == cfg.dim,
        s"lake at ${cfg.location} stores $d-dim vectors but this session " +
          s"is configured for ${cfg.dim}"))
      if (cfg.partitionKey.isEmpty) {
        st.sidecarShards.filter(_ != -1L).foreach(ns =>
          require(ns == lsh.numShards,
            s"lake at ${cfg.location} was routed into $ns LSH shards but " +
              s"this session's config routes into ${lsh.numShards} " +
              s"(numHashes mismatch) — pruned queries would scan the wrong " +
              "directory; construct the Lake with the writer's config"))
        c.lshSeed.foreach(s => require(s == cfg.seed,
          s"lake at ${cfg.location} was routed with LSH seed $s but this " +
            s"session's config uses seed ${cfg.seed} — same shard count, " +
            "different hyperplanes; construct the Lake with the writer's config"))
      }
    }

  /** Structure-changing maintenance is mutually exclusive with an
    * in-flight incremental reshard: compaction/DML/retention group
    * directories BY VALUE, and mid-reshard the same value names both
    * an old-width pending directory and a new-width one — a rewrite
    * would merge mixed-width rows or strand pending references.
    * Appends, reads, clones, and vacuum stay available; everything
    * else waits for (or resumes) the reshard. */
  private def requireNoReshard(st: LakeState, op: String): Unit =
    st.reshard.foreach { r =>
      throw new IllegalStateException(
        s"$op on ${cfg.location} refused: an incremental reshard " +
          s"${1L << r.fromBits} -> ${1L << r.toBits} shards is in " +
          s"flight (${r.pending.size} directories still at the old " +
          "width) — finish it first: reshard(newNumHashes) resumes " +
          "and is interruptible")
    }

  /** `pq_code` rows are only meaningful under the codebooks that wrote
    * them — previously a doc-comment contract on
    * [[LakeConfig.pqCodebooks]], now enforced: the sidecar records the
    * model fingerprint and any writer/reader constructed with a
    * DIFFERENT model fails loudly here instead of silently mixing
    * incompatible codes (which corrupts topKPq with no error). A
    * pre-fingerprint sidecar (no field) is accepted and stamped on the
    * next write. Shared by the read guard (which pays the state read
    * only for PQ sessions) and the write guards. */
  private def pqFingerprintMatch(st: LakeState): Unit =
    for {
      m <- cfg.pqCodebooks
      c <- st.config
      found <- c.pqFingerprint
    } require(found == m.fingerprint,
      s"lake at ${cfg.location} stores pq_code under codebook fingerprint " +
        s"$found but this session's model fingerprints ${m.fingerprint}; " +
        "mixing codes from different trainings silently corrupts topKPq — " +
        "construct the Lake with the model that first wrote it")

  /** WRITE-side config guard: the session's compression config and the
    * sidecar's recorded one must agree IN BOTH DIRECTIONS before any
    * write or rewrite — one state read covers every check.
    *
    *  - Session LACKS a compression the sidecar declares: refuse —
    *    [[withDerived]] would append rows WITHOUT `pq_code`/`packed`
    *    (and rewrites would strip them), null-poisoning compressed
    *    search silently. This is the sharp direction for the SQL
    *    format (whose `resolveConfig` cannot rebuild codebooks from a
    *    fingerprint) and misconstructed Scala sessions, both of which
    *    pass the fingerprint-equality check vacuously.
    *  - Session DECLARES a compression the sidecar doesn't, over a
    *    lake that already holds data: refuse — the write would stamp
    *    the new config into the sidecar as authoritative, poisoning
    *    every pre-existing row (null `packed`/`pq_code`) AND locking
    *    the original, correct config out via the first rule. A
    *    data-less lake may upgrade freely (the next write defines the
    *    layout), and a pre-recording lake whose files genuinely carry
    *    the column is re-stamped deliberately with [[bootstrap]] under
    *    the full config — the documented one-time migration.
    *
    * READS stay open under any config — `pq_code`/`packed` are plain
    * columns to a plain read. `entries` and `st` are the op's own
    * resolution; the check reads nothing more than a current-tree LIST
    * when an upgrade must ask whether the lake holds data. */
  private def requireWriteConfigMatch(fs: org.apache.hadoop.fs.FileSystem,
      entries: Seq[org.apache.hadoop.fs.FileStatus], st: LakeState): Unit = {
    requireNoLesserConfig(st)
    st.config.foreach { c =>
      // routing width, per WRITE (not just per instance): a stale
      // session writing at the pre-reshard width would append
      // mis-routed rows or stamp the old width back over the sidecar
      if (cfg.partitionKey.isEmpty)
        st.sidecarShards.filter(_ > 0).foreach(ns =>
          require(ns == lsh.numShards,
            s"write at ${cfg.location} refused: the lake is routed " +
              s"into $ns LSH shards but this session writes at " +
              s"${lsh.numShards} — it was likely resharded after this " +
              "Lake instance was constructed; build a fresh Lake at " +
              "the sidecar's width"))
      val upgrades =
        (if (cfg.pqCodebooks.isDefined && c.pqFingerprint.isEmpty) Seq("pqCodebooks") else Nil) ++
          (if (cfg.packSignBits && !c.packSignBits) Seq("packSignBits") else Nil)
      // check-then-act residual: two CONCURRENT first writes under the
      // shared append gate (one plain, one upgraded) can both see an
      // empty lake here and both land — whichever sidecar version wins
      // then misdescribes the loser's rows. Same class of residual as
      // the PUT-semantics lock notes: serialized first writes (the
      // universal case — someone creates the lake, then loaders attach)
      // are fully defended.
      if (upgrades.nonEmpty && holdsData(fs, entries, st))
        throw new IllegalArgumentException(
          s"lake at ${cfg.location} holds rows written WITHOUT " +
            s"${upgrades.mkString("/")}, but this session declares " +
            s"${upgrades.mkString("/")} — writing would stamp the new " +
            "config as authoritative and null-poison every existing row's " +
            "compressed search (then refuse the original config). Create " +
            "compressed lakes compressed from the start; if this lake's " +
            "files genuinely carry the column (written before the sidecar " +
            "recorded the flag), re-stamp once with bootstrap() under the " +
            "full config.")
    }
  }

  /** The LESSER direction of the write-config guard alone (sidecar
    * declares a compression this session's config lacks) — what
    * [[bootstrap]] checks, since bootstrap is itself the documented
    * upgrade path and must not trip the upgrade refusal. */
  private def requireNoLesserConfig(st: LakeState): Unit = {
    pqFingerprintMatch(st)
    st.config.foreach { c =>
      if (cfg.pqCodebooks.isEmpty && c.pqFingerprint.isDefined)
        throw new IllegalArgumentException(
          s"lake at ${cfg.location} stores pq_code (the sidecar records a " +
            "codebook fingerprint) but this session has no pqCodebooks — " +
            "writing would append/rewrite rows without their codes and " +
            "silently corrupt topKPq. Construct the Lake (or pass options) " +
            "with the lake's model; SQL-surface writes to PQ lakes need " +
            "the Scala session that holds it.")
      if (!cfg.packSignBits && c.packSignBits)
        throw new IllegalArgumentException(
          s"lake at ${cfg.location} stores the packed sign-bit column but " +
            "this session has packSignBits=false — writing would " +
            "append/rewrite rows without `packed` and silently corrupt " +
            "topKCompressed. Set packSignBits=true (option or config).")
    }
  }
}

object Lake {
  /** Writer-lock marker file name, under the lake root. Underscore
    * prefix keeps it out of Spark's file index (never read as data). */
  private[graft] val lockName: String = "_lock"

  /** Hadoop's createFile builder key for a conditional (If-None-Match)
    * create, and the path-capability name a store advertises when it
    * honors it (HADOOP-19256, s3a since 3.4.x:
    * `Options.CreateFileOptionKeys.FS_OPTION_CREATE_CONDITIONAL_OVERWRITE`).
    * Spelled out so this compiles against hadoop-client-api without
    * the s3a jar on the classpath. */
  private[graft] val conditionalCreateKey: String =
    "fs.option.create.conditional.overwrite"

  /** `_swept.<g>`: the last sweep of unnamed files ran while generation
    * g was current ([[Lake.vacuum]]). */
  private[graft] val sweptRe = """_swept\.(\d+)""".r

  /** Create `p` holding `body` only if nothing is there: true when this
    * call created it, false when the path was taken. The one exclusive
    * create behind the writer lock, every sidecar version and every
    * derived-table version:
    *  - `file:` opens with O_CREAT|O_EXCL (NIO `CREATE_NEW`): Hadoop's
    *    local `create(overwrite = false)` is check-then-act, so two
    *    writers in its window would both "create" and the second would
    *    truncate the first's body;
    *  - a store that advertises conditional create (s3a, see
    *    [[conditionalCreateKey]]) PUTs with If-None-Match, which the
    *    store arbitrates at close;
    *  - any other store gets `create(overwrite = false)`: atomic at the
    *    HDFS namenode, a blind PUT on a plain object store (the residual
    *    each caller documents).
    * Only a create that lost to an existing path answers false; any
    * other IOException (quota, permission, network) surfaces as itself.
    * Outside object stores a reader can see the file before its whole
    * body; every caller's reader treats an undecodable newest file as
    * not there yet. */
  private[graft] def createIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, body: Array[Byte]): Boolean = {
    if (fs.getScheme == "file") {
      import java.nio.file.{Files, StandardOpenOption => O}
      val f = java.nio.file.Paths.get(p.toUri.getPath)
      Files.createDirectories(f.getParent)
      try { Files.write(f, body, O.CREATE_NEW, O.WRITE); return true }
      catch { case _: java.nio.file.FileAlreadyExistsException => return false }
    }
    val conditional =
      try fs.hasPathCapability(p, conditionalCreateKey)
      catch { case scala.util.control.NonFatal(_) => false }
    val out =
      try {
        if (conditional) {
          val b = fs.createFile(p)
          b.overwrite(false)
          b.must(conditionalCreateKey, true)
          b.build().asInstanceOf[org.apache.hadoop.fs.FSDataOutputStream]
        } else fs.create(p, false)
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
        case e: java.io.IOException => if (fs.exists(p)) return false else throw e
      }
    try { out.write(body); out.close(); true } // a conditional PUT commits at close
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case e: java.io.IOException => if (conditional && fs.exists(p)) false else throw e
    }
  }

  /** What one [[Lake.maintain]] call actually ran — all-zero/false on
    * a converged lake. */
  final case class MaintenanceReport(
      compactedShards: Long, skipRefreshed: Boolean, vacuumSwept: Long,
      recallRecalibrated: Boolean = false,
      expiredRows: Long = 0L,
      maxShardBytes: Long = 0L,
      medianShardBytes: Long = 0L,
      reshardRecommended: Boolean = false,
      reshardPendingDirs: Long = 0L)

  /** Default oversized-shard threshold behind the
    * `reshard_recommended` signal ([[Lake.maintain]]'s
    * `targetShardBytes`): a single-probe query reads one shard
    * directory, so once the LARGEST directory crosses this, one more
    * hyperplane (which halves every directory) is justified work —
    * the same health-signal discipline as the compaction policy's
    * file-count slack. 8 GiB ≈ a few seconds of columnar scan per
    * probe on one executor; tune per latency budget. */
  val defaultTargetShardBytes: Long = 8L * 1024 * 1024 * 1024

  /** Shared append-marker names: `_append.<uuid>.lock` under the root.
    * Appends hold one of these (any number concurrently) instead of the
    * exclusive `_lock`; maintenance refuses while any is present. */
  private[graft] val appendMarkerRe = "_append\\.[0-9a-f-]+\\.lock".r

  /** Inverse of Spark's partition-path escaping (the behavior of
    * catalyst's `ExternalCatalogUtils.unescapePathName`, reimplemented
    * to stay off the internal API): `%XX` → char, the Hive null
    * sentinel → None. The single shared implementation for the Scala
    * read paths AND the DSv2 format's partition-value decoding. */
  private[graft] def unescapePartitionValue(raw: String): Option[String] = {
    if (raw == "__HIVE_DEFAULT_PARTITION__") return None
    val sb = new StringBuilder(raw.length)
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '%' && i + 2 < raw.length) {
        // validate each nibble as ASCII hex specifically:
        // Integer.parseInt(_, 16) also accepts signed forms ("+4") and
        // Character.digit accepts non-ASCII Unicode digits (fullwidth
        // '４', Arabic-Indic) — either would decode a foreign dir value
        // to a control char instead of passing it through literally
        // (Spark itself only ever emits ASCII %XX)
        def nibble(c: Char): Int =
          if (c < 128) Character.digit(c, 16) else -1
        val hi = nibble(raw.charAt(i + 1))
        val lo = nibble(raw.charAt(i + 2))
        if (hi >= 0 && lo >= 0) { sb.append(((hi << 4) | lo).toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    Some(sb.toString)
  }

  /** Column names the engine DERIVES onto query outputs or uses as
    * rewrite-plan internals — refused by [[Lake.evolve]] (a stored
    * extra with one of these names would be clobbered by the
    * `withColumn` that derives it, or corrupt an internal join). */
  private[graft] val reservedDerivedCols: Set[String] = Set(
    "change", "dist", "packed", "pq_code", "qnrm", "qshard",
    "_mcmp", "_slice", "n_slices", "__routed", "shard_s", "key_s",
    "skip_stale",
    // the DSv2 row-level DML metadata column (GraftTable.RidName): a
    // DATA column with this name would shadow it and break UPDATE/MERGE
    "_graft_rid")

  /** The ONE netting definition — rows byte-identical between the
    * insert and delete sides cancel (so a pure compact/rewrite nets to
    * nothing), shared by [[Lake.changesBetween]]'s netted frame and
    * the public per-batch helper [[graft.streaming.LakeChanges.net]]
    * so the two surfaces can never diverge on row identity. Every
    * non-map column participates via null-safe equality; map columns
    * (unjoinable directly) compare through their sorted entry arrays.
    * Internal comparison columns carry the reserved \u0001 prefix,
    * which [[Lake.evolve]] refuses in user column names — no evolved
    * extra can collide. Scale shape: two hash anti-joins keyed on the
    * full row — the join keys ARE the data, so the shuffle is the
    * delta itself, never the lake. */
  private[graft] def netInsertsDeletes(ins: DataFrame,
      del: DataFrame, excludeKeys: Set[String] = Set.empty): DataFrame = {
    val dataCols = ins.columns.toSeq
    val mapCols = ins.schema.fields
      .filter(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      .map(_.name).toSet
    def prep(df: DataFrame): DataFrame =
      mapCols.foldLeft(df)((d, c) =>
        d.withColumn("\u0001mcmp_" + c, array_sort(map_entries(col(c)))))
    val li = prep(ins); val rd = prep(del)
    // excludeKeys drops columns from ROW IDENTITY only (they stay in
    // the output): the reshard re-key diff cancels a relocated row --
    // same content, new shard -- by netting with the partition column
    // excluded
    val keys = (dataCols.filterNot(mapCols) ++ mapCols.map("\u0001mcmp_" + _))
      .filterNot(excludeKeys)
    val cond = keys.map(k => li(k) <=> rd(k)).reduce(_ && _)
    li.join(rd, cond, "left_anti").withColumn("change", lit("insert"))
      .unionByName(
        rd.join(li, cond, "left_anti").withColumn("change", lit("delete")))
      .select((dataCols.map(col) :+ col("change")): _*)
  }

  /** Stable 12-hex sink identity from the user-visible sink id (the
    * query's checkpoint location): the sidecar's key for the sink's
    * committed head ([[LakeState.sinks]]). SHA-256-based so two
    * checkpoints differing anywhere get distinct identities. */
  private[graft] def sinkIdHex(sinkId: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(sinkId.getBytes("UTF-8"))
      .take(6).map(b => f"${b & 0xff}%02x").mkString

  /** What one append committed: the partition values it landed files
    * in (skip-index refresh scope) and the state its commit published. */
  private[graft] final case class Appended(
      shards: Set[Option[String]], state: LakeState)

  /** An incremental LSH reshard in flight: rows in the `pending`
    * (escaped-dir, generation) entries are still routed at
    * `fromBits` hyperplanes while the lake's declared width is already
    * `toBits` — reads re-derive the missing high bits per row
    * ([[Lsh.shardColFrom]], exact by plane prefix stability), and each
    * [[Lake.reshard]] step rewrites a batch of pending directories at
    * the full width and commits. `hadSkipIndex` remembers whether the
    * transition dropped an operator-built skip index (its by-value
    * shard entries would mis-prune mid-reshard), so completion can
    * rebuild it. */
  private[graft] final case class ReshardState(
      fromBits: Int, toBits: Int, pending: Seq[(String, Long)],
      hadSkipIndex: Boolean = false)

  /** What the `graft` DSv2 format scans ([[Lake.formatScan]]). */
  private[graft] final case class FormatScan(
      roots: Seq[(String, Option[String])],
      rootFiles: Map[String, Seq[org.apache.hadoop.fs.FileStatus]],
      schema: StructType)

  /** One data file of a live manifest entry, as recorded in the
    * sidecar at commit time (name is directory-relative; len/mod are
    * the exact [[org.apache.hadoop.fs.FileStatus]] values a listing
    * would return — readers build scan splits from them, so `len`
    * must be the true byte length), with its zone stats when the lake
    * keeps a zone map and the commit that named the file computed them. */
  private[graft] final case class LiveFile(name: String, len: Long, mod: Long,
      stats: Option[ZoneStats] = None)

  /** One data file's zone stats, committed with the file
    * ([[Lake.buildZoneMap]]): its rows, its rows with a non-null
    * `timestamp`, the min and max `timestamp` in epoch microseconds, and
    * a (min, max) pair per zone field, in `zone_fields` order. A bound
    * is None when no row has a value. Files are immutable, so the stats
    * never go stale. */
  private[graft] final case class ZoneStats(rows: Long, tsRows: Long,
      minTs: Option[Long], maxTs: Option[Long],
      fields: Seq[(Option[Double], Option[Double])] = Nil)

  private[graft] object LiveFile {
    def of(s: org.apache.hadoop.fs.FileStatus): LiveFile =
      LiveFile(s.getPath.getName, s.getLen, s.getModificationTime)
  }

  /** Committed layout-v2 state: `generation` is the current append
    * target (its whole subtree is live); `live` names directories still
    * live in OLDER generations as (escaped-dir-name, generation) pairs
    * — the same dir name may appear under several generations (old
    * rewrite + later appends). `sidecarShards` is the num_shards the
    * sidecar DECLARED (None for fresh constructions and pre-field
    * sidecars): carried so per-operation width checks and snapshot
    * re-derivation can see the width a STATE was written at, not just
    * the session's. `reshard` is the in-flight incremental reshard, if
    * any. `liveFiles` is the FILE-level manifest (guide §6 "table
    * formats avoid directory listing altogether"): for each `live`
    * entry whose file set was recorded at commit time, the exact data
    * files a reader should open — so reads plan with ZERO per-directory
    * listings. Entries absent from the map (sidecars written before
    * this field existed, or an entry whose names could not be recorded
    * safely) fall back to listing; presence is an optimization, never
    * a semantics change, because a committed (dir, generation) entry
    * is immutable until vacuum retires it wholesale — the same
    * invariant the listing read already relied on. `config` is the
    * writer config the sidecar recorded — Some exactly when the state
    * was decoded from a sidecar (fresh constructions carry None).
    * `genRecorded`: `live` and `liveFiles` name the CURRENT generation's
    * directories and files too — every append commits the files it
    * wrote — so a file there that no sidecar names is not part of the
    * lake; false for states decoded from sidecars written before this
    * (and for a stream-owned generation), whose current tree is live by
    * listing. `version` is the sidecar version the state was decoded
    * from (0 when none): an append commits `version + 1`. `lost` names
    * (entry, file name) pairs the resolver leaves out: named files found
    * gone from the store, set only on [[Lake.validate]]'s audit view and
    * never committed. `sinks` maps each exactly-once sink's identity
    * ([[Lake.sinkIdHex]]) to the newest batch it committed — recorded by
    * the append that commits the batch ([[Lake.ingestExactlyOnce]]) and
    * carried by every later commit, like Delta's `txn` action.
    * `zoneFields` is Some once [[Lake.buildZoneMap]] has run: every later
    * commit computes the zone stats of the files it writes
    * ([[LiveFile.stats]]) over these metadata fields. */
  private[graft] final case class LakeState(
      generation: Long, live: Seq[(String, Long)],
      genHasData: Option[Boolean] = None,
      isSealed: Boolean = false,
      extraCols: Seq[(String, String)] = Nil,
      sidecarShards: Option[Long] = None,
      reshard: Option[ReshardState] = None,
      lastUpdate: Option[String] = None,
      liveFiles: Map[(String, Long), Seq[LiveFile]] = Map.empty,
      config: Option[SidecarConfig] = None,
      genRecorded: Boolean = false,
      version: Long = 0L,
      lost: Set[((String, Long), String)] = Set.empty,
      sinks: Map[String, Long] = Map.empty,
      zoneFields: Option[Seq[String]] = None)

  /** The writer config a sidecar records beside the live set: what
    * routing/compression guards check a session against and what the
    * SQL format resolves a lake's config from. Each field is None when
    * the sidecar predates it. */
  private[graft] final case class SidecarConfig(
      dim: Option[Long], metric: Option[String], lshSeed: Option[Long],
      pqFingerprint: Option[String], packSignBits: Boolean,
      partitionKey: Option[String], partitionKeyType: Option[String])

  /** Generation subtree directory names under the root. */
  private[graft] val genDirRe = "gen-(\\d+)".r

  /** Versioned sidecar file names; readers take the highest version —
    * each commit is an atomic CREATE of a new version, never an
    * in-place overwrite a reader could catch half-written. */
  private[graft] val metaNameRe = "_meta\\.(\\d+)\\.json".r

  /** (version, path) of every sidecar version in a root listing. */
  private[graft] def metaVersionsFrom(entries: Seq[org.apache.hadoop.fs.FileStatus])
      : Seq[(Long, org.apache.hadoop.fs.Path)] =
    entries.flatMap { s =>
      s.getPath.getName match {
        case metaNameRe(v) if s.isFile => Some(v.toLong -> s.getPath)
        case _ => None
      }
    }

  /** The state a root listing of `location` names: the newest
    * parseable `_meta.<v>.json` (a torn newest falls back to the one
    * before it, logged, with its current generation resolved by
    * listing; none parseable fails loudly), else the pre-v2
    * single-file `_meta.json`, else a fresh lake. A listed version
    * rotated out before its read surfaces as FileNotFoundException. */
  private[graft] def stateFromListing(fs: org.apache.hadoop.fs.FileSystem,
      location: String, entries: Seq[org.apache.hadoop.fs.FileStatus]): LakeState =
    ControlFiles.newestParseable[ControlFiles.LakeSidecar, LakeState](fs,
      metaVersionsFrom(entries), s"lake at $location")(_.toState)
      .map { case (v, st) =>
        // served past a torn newest version, which may have named more
        // current-generation files than this one: that tree resolves by
        // listing, the only truthful answer left
        st.copy(version = v, genRecorded = st.genRecorded &&
          v == metaVersionsFrom(entries).map(_._1).max) }
      .orElse(entries.find(s => s.isFile && s.getPath.getName == "_meta.json")
        .map(s => stateOfSidecar(fs, s.getPath)))
      .getOrElse(LakeState(1L, Nil))

  /** The state one sidecar version recorded. */
  private[graft] def stateOfSidecar(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): LakeState =
    ControlFiles.read[ControlFiles.LakeSidecar](fs, p).toState

  /** Superseded sidecar versions kept for in-flight readers that
    * listed the root just before a commit; older ones are swept. */
  private[graft] val keptMetaVersions: Long = 4L

  /** Per-query serve state for [[Lake.topKStreamExpiring]]: the bounded
    * top-k heap (≤ k entries) plus the forward-only expiry deadline.
    * NOTE: this struct is the query's CHECKPOINTED state schema — any
    * field change breaks restart-from-checkpoint (Spark's state-schema
    * check fails the query at start); ship such changes with a new
    * checkpoint location. */
  final case class TopKServeState(
      top: Seq[(Double, String)], deadlineMs: Long = Long.MinValue)

  /** Canonical stored-row schema (SURVEY.md §1.1; reference frame_schema
    * index.py:198-200). `shard` is a directory partition column on top. */
  val schema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("vector", ArrayType(FloatType)),
    StructField("metadata", MapType(StringType, StringType)),
    StructField("document", StringType),
    StructField("timestamp", TimestampType)))

  val dataCols: Seq[String] = schema.fields.map(_.name).toSeq

  def apply(spark: SparkSession, cfg: LakeConfig): Lake = new Lake(spark, cfg)

  /** Construct-and-ingest in one call — the reference's `from_texts`
    * classmethod (langchain/__init__.py:92-116): build the lake at
    * `cfg.location` and append the (text, embedding) rows. */
  def fromTexts(spark: SparkSession, texts: DataFrame, cfg: LakeConfig): Lake = {
    val lake = new Lake(spark, cfg)
    lake.addTexts(texts)
    lake
  }
}
