package graft

import com.fasterxml.jackson.annotation.{JsonFormat, JsonInclude, JsonPropertyOrder}
import com.fasterxml.jackson.core.JacksonException
import com.fasterxml.jackson.databind.{DeserializationFeature, PropertyNamingStrategies}
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

import scala.reflect.ClassTag

import graft.Lake.{LakeState, LiveFile, ReshardState, SidecarConfig, ZoneStats}

/** The ONE codec for every small JSON control file the engine writes
  * next to its data. Each file has a case class below whose fields are
  * the file's keys (snake_case on disk, camelCase here); decoding
  * ignores unknown keys and refuses anything that is not one complete
  * JSON object — a truncated body never decodes as a smaller-but-
  * plausible one.
  *
  * {{{
  * file                           case class       torn or foreign body
  * <lake>/_meta.<v>.json          LakeSidecar      previous version (logged); none left: fail
  * <derived>/_derived.<v>.json    DerivedSidecar   previous version (logged); none left: fail
  * <state>/_state.<v>.json        StatePointer     previous version (logged); none left: fail
  * <lake>/_recall/calib.json      RecallCalib      fail
  * <model>/_ivf_meta.json         IvfMeta          fail
  * <model>/_pq_meta.json          PqMeta           fail
  * }}}
  *
  * Versioned files are resolved with [[newestParseable]]. A manifest
  * entry (`files`) whose name/length/mtime lists disagree is dropped
  * on decode: that directory is listed instead. The zone map is part of
  * the lake sidecar: `zone_fields` names its metadata fields and each
  * entry's `fz` list carries its files' zone stats; a stats list or
  * element that does not decode leaves those files without stats, so
  * readers scan them. */
private[graft] object ControlFiles {
  private type JLong = java.lang.Long

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .disable(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .serializationInclusion(JsonInclude.Include.NON_ABSENT)
    .build()

  private val log = org.slf4j.LoggerFactory.getLogger(ControlFiles.getClass)

  /** A control file whose body is not a complete object of its kind. */
  final class Unparseable(msg: String, cause: Throwable)
    extends IllegalStateException(msg, cause)

  def decode[T](json: String, source: String)(implicit ct: ClassTag[T]): T = {
    val v =
      try mapper.readValue(json, ct.runtimeClass.asInstanceOf[Class[T]])
      catch { case e: JacksonException =>
        throw new Unparseable(s"unparseable control file $source: " +
          e.getOriginalMessage, e)
      }
    if (v == null) throw new Unparseable(s"unparseable control file $source: null", null)
    v
  }

  def encode(v: AnyRef): String = mapper.writeValueAsString(v)

  /** Read a small control file fully. A single `read()` may return a
    * short prefix on some streams; `readAllBytes` loops to EOF. */
  def readControlFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Read and decode; IO failures propagate as themselves. */
  def read[T: ClassTag](fs: FileSystem, p: Path): T =
    decode[T](readControlFile(fs, p), p.toString)

  /** Create `p` holding `v`'s encoding. */
  def write(fs: FileSystem, p: Path, v: AnyRef, overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(encode(v).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The newest version that decodes, walked newest-first (the healthy
    * path reads one file), mapped through `domain`. A version whose
    * body does not decode or that `domain` rejects with [[Unparseable]]
    * (a crash between create and write, a torn copy) is skipped and the
    * skip is logged; read errors propagate, so a store hiccup never
    * serves an older version. None when `versions` is empty; fails
    * loudly when no version decodes. */
  def newestParseable[T: ClassTag, R](fs: FileSystem,
      versions: Seq[(Long, Path)], what: String)(domain: T => R): Option[(Long, R)] = {
    var firstErr: Option[(Long, Throwable)] = None
    versions.sortBy(-_._1).foreach { case (v, p) =>
      try {
        val t = domain(read[T](fs, p))
        firstErr.foreach { case (bad, e) =>
          log.warn(s"$what: newest version $bad is unparseable " +
            s"(${e.getMessage}) — serving version $v; the next commit " +
            "heals over it")
        }
        return Some(v -> t)
      } catch {
        case e: Unparseable => if (firstErr.isEmpty) firstErr = Some(v -> e)
      }
    }
    firstErr.map { case (v, e) =>
      throw new IllegalStateException(s"$what: no parseable sidecar among " +
        s"${versions.size} version(s) — newest ($v) failed with: " +
        e.getMessage, e)
    }
  }

  // ---------------------------------------------------------- shapes --

  /** A `["dir", generation]` pair of the lake sidecar's `live` list. */
  @JsonFormat(shape = JsonFormat.Shape.ARRAY)
  @JsonPropertyOrder(Array("d", "g"))
  final case class LiveDir(d: String, g: Long)

  /** A `{"d", "g"}` directory still pending in an in-flight reshard. */
  final case class PendingDir(d: String, g: Long)

  /** A `{"sink", "batch"}` pair of the lake sidecar's `sinks` list: the
    * newest batch an exactly-once sink committed. */
  final case class SinkBatch(sink: String, batch: Long)

  /** One FILE-level manifest entry: the data files of directory `fd`
    * (in generation `fg` — absent in derived sidecars) as `;`-joined
    * names, byte lengths and modification times, and, once the lake
    * keeps a zone map, `fz`: each file's zone stats ([[FileEntry.zoneOf]]),
    * an empty element for a file without them. */
  final case class FileEntry(fd: String,
      @JsonDeserialize(contentAs = classOf[JLong]) fg: Option[Long],
      fn: String, fl: String, fm: String, fz: Option[String] = None) {
    /** The entry's files, or None when the three lists disagree. A
      * stats list of another length than the names gives no file stats. */
    def liveFiles: Option[Seq[LiveFile]] =
      try {
        def parts(s: String): Seq[String] =
          if (s == null || s.isEmpty) Nil else s.split(";", -1).toSeq
        val names = parts(fn)
        val lens = parts(fl).map(_.toLong)
        val mods = parts(fm).map(_.toLong)
        val stats = fz.map(parts).filter(_.size == names.size)
          .fold(names.map(_ => Option.empty[ZoneStats]))(_.map(FileEntry.zoneOf))
        if (fd == null || names.size != lens.size || names.size != mods.size) None
        else Some(names.indices.map(i => LiveFile(names(i), lens(i), mods(i), stats(i))))
      } catch { case _: NumberFormatException => None }
  }

  object FileEntry {
    /** Whether a file name can ride the `;`-joined lists. */
    def recordable(files: Seq[LiveFile]): Boolean =
      files.forall(!_.name.contains(';'))

    def of(dir: String, gen: Option[Long], files: Seq[LiveFile]): FileEntry =
      FileEntry(dir, gen, files.map(_.name).mkString(";"),
        files.map(_.len).mkString(";"), files.map(_.mod).mkString(";"),
        Some(files.map(_.stats.fold("")(zoneElement)).mkString(";"))
          .filter(_ => files.exists(_.stats.isDefined)))

    /** One `fz` element: `rows,ts_rows,min_ts,max_ts` and a `min,max`
      * pair per zone field, an empty value for a missing bound. */
    def zoneElement(z: ZoneStats): String =
      (Seq(z.rows, z.tsRows) ++ (Seq(z.minTs, z.maxTs) ++
        z.fields.flatMap { case (lo, hi) => Seq(lo, hi) }).map(_.fold("")(_.toString)))
        .mkString(",")

    /** The stats of one `fz` element; None when it is empty or malformed. */
    def zoneOf(e: String): Option[ZoneStats] =
      try {
        val v = e.split(",", -1).toSeq
        def opt[A](s: String)(f: String => A): Option[A] = Option.when(s.nonEmpty)(f(s))
        Option.when(v.size >= 4 && v.size % 2 == 0)(ZoneStats(v(0).toLong, v(1).toLong,
          opt(v(2))(_.toLong), opt(v(3))(_.toLong),
          v.drop(4).grouped(2).map(p => (opt(p(0))(_.toDouble), opt(p(1))(_.toDouble))).toSeq))
      } catch { case _: NumberFormatException => None }
  }

  /** The FILE-level manifest a commit records for `dirs`: each
    * directory's list is reused from `carried` (the state being
    * committed) or, when that is empty, from `committed` (the newest
    * sidecar's) — a committed directory is immutable until vacuum
    * retires it — and listed once through `list` otherwise. A directory
    * gone from disk, or one whose names cannot ride the `;`-joined
    * lists, is left unrecorded: readers list it. */
  def recordFiles[K](dirs: Seq[K], carried: Map[K, Seq[LiveFile]],
      committed: => Map[K, Seq[LiveFile]])(
      list: K => Seq[FileStatus]): Seq[(K, Seq[LiveFile])] =
    if (dirs.isEmpty) Nil
    else {
      val prev = if (carried.nonEmpty) carried else committed
      dirs.distinct.flatMap { k =>
        prev.get(k).orElse {
          try Some(list(k).map(LiveFile.of))
          catch { case _: java.io.FileNotFoundException => None }
        }.filter(FileEntry.recordable).map(k -> _)
      }
    }

  /** `<lake>/_meta.<v>.json`, the lake's commit point. Keys in writer
    * order; `extra_cols` entries are `name<U+0001>catalog-ddl`;
    * `reshard_from`/`reshard_to` are shard counts. `gen_recorded` says
    * `live` and `files` name the current generation's directories and
    * files too, so its unnamed files are not part of the lake; without
    * it (sidecars written before appends committed here) the current
    * generation's tree is live by listing. `sinks` is each exactly-once
    * sink's committed head, written only when a sink has committed.
    * `zone_fields` is present (possibly empty) once [[Lake.buildZoneMap]]
    * has run: the metadata fields whose per-file ranges the entries'
    * zone stats carry, in order. */
  final case class LakeSidecar(
      lastUpdate: Option[String] = None,
      @JsonDeserialize(contentAs = classOf[JLong]) dim: Option[Long] = None,
      metric: Option[String] = None,
      @JsonDeserialize(contentAs = classOf[JLong]) numShards: Option[Long] = None,
      @JsonDeserialize(contentAs = classOf[JLong]) lshSeed: Option[Long] = None,
      pqFingerprint: Option[String] = None,
      packSignBits: Option[Boolean] = None,
      partitionKey: Option[String] = None,
      partitionKeyType: Option[String] = None,
      `sealed`: Option[Boolean] = None,
      extraCols: Option[Seq[String]] = None,
      @JsonDeserialize(contentAs = classOf[JLong]) reshardFrom: Option[Long] = None,
      @JsonDeserialize(contentAs = classOf[JLong]) reshardTo: Option[Long] = None,
      reshardPending: Option[Seq[PendingDir]] = None,
      reshardSkip: Option[Boolean] = None,
      files: Option[Seq[FileEntry]] = None,
      generation: Long = 1L,
      live: Seq[LiveDir] = Nil,
      genHasData: Option[Boolean] = None,
      genRecorded: Option[Boolean] = None,
      sinks: Option[Seq[SinkBatch]] = None,
      zoneFields: Option[Seq[String]] = None) {

    def toState: LakeState = LakeState(
      generation, live.map(e => e.d -> e.g), genHasData,
      isSealed = `sealed`.contains(true),
      extraCols = extraCols.getOrElse(Nil).map(_.split("\u0001", 2))
        .collect { case Array(n, t) => n -> t },
      sidecarShards = numShards,
      reshard = for (from <- reshardFrom; to <- reshardTo) yield ReshardState(
        java.lang.Long.numberOfTrailingZeros(from),
        java.lang.Long.numberOfTrailingZeros(to),
        reshardPending.getOrElse(Nil).map(p => p.d -> p.g),
        reshardSkip.contains(true)),
      lastUpdate = lastUpdate,
      liveFiles = files.getOrElse(Nil).flatMap(e =>
        for (g <- e.fg; fl <- e.liveFiles) yield (e.fd -> g) -> fl).toMap,
      genRecorded = genRecorded.contains(true),
      sinks = sinks.getOrElse(Nil).map(s => s.sink -> s.batch).toMap,
      config = Some(SidecarConfig(dim, metric, lshSeed, pqFingerprint,
        packSignBits.contains(true), partitionKey, partitionKeyType)),
      zoneFields = zoneFields)
  }

  object LakeSidecar {
    /** The sidecar committing `st` under the writer's `cfg`. */
    def of(st: LakeState, cfg: LakeConfig, numShards: Long,
        sealedCommit: Boolean, genHasData: Boolean,
        files: Seq[((String, Long), Seq[LiveFile])]): LakeSidecar =
      LakeSidecar(
        lastUpdate = Some(java.time.Instant.now().toString),
        dim = Some(cfg.dim.toLong),
        metric = Some(cfg.metric),
        numShards = Some(numShards),
        lshSeed = if (cfg.partitionKey.isEmpty) Some(cfg.seed) else None,
        pqFingerprint = cfg.pqCodebooks.map(_.fingerprint),
        packSignBits = Some(true).filter(_ => cfg.packSignBits),
        partitionKey = cfg.partitionKey,
        partitionKeyType = cfg.partitionKey.map(_ => cfg.partitionKeyType.catalogString),
        `sealed` = Some(true).filter(_ => sealedCommit),
        extraCols = Some(st.extraCols.map { case (n, t) => n + "\u0001" + t })
          .filter(_.nonEmpty),
        reshardFrom = st.reshard.map(r => 1L << r.fromBits),
        reshardTo = st.reshard.map(r => 1L << r.toBits),
        reshardPending = st.reshard.map(_.pending.map { case (d, g) => PendingDir(d, g) }),
        reshardSkip = st.reshard.filter(_.hadSkipIndex).map(_ => true),
        files = Some(files.map { case ((d, g), fl) => FileEntry.of(d, Some(g), fl) })
          .filter(_.nonEmpty),
        generation = st.generation,
        live = (if (st.genRecorded) st.live
          else st.live.filter(_._2 != st.generation)).map { case (d, g) => LiveDir(d, g) },
        genHasData = Some(genHasData),
        genRecorded = Some(true).filter(_ => st.genRecorded),
        sinks = Some(st.sinks.toSeq.sorted.map { case (k, b) => SinkBatch(k, b) })
          .filter(_.nonEmpty),
        zoneFields = st.zoneFields)
  }

  /** `<derived>/_derived.<v>.json`, a derived feature table's commit
    * point. Every field but `files` is required. */
  final case class DerivedSidecar(
      derived: Boolean = true,
      derivedOf: Option[String] = None,
      @JsonDeserialize(contentAs = classOf[JLong]) baseVersion: Option[Long] = None,
      @JsonDeserialize(contentAs = classOf[JLong]) dim: Option[Long] = None,
      @JsonDeserialize(contentAs = classOf[JLong]) numShards: Option[Long] = None,
      @JsonDeserialize(contentAs = classOf[JLong]) lshSeed: Option[Long] = None,
      metric: Option[String] = None,
      @JsonDeserialize(contentAs = classOf[JLong]) generation: Option[Long] = None,
      schemaDdl: Option[String] = None,
      files: Option[Seq[FileEntry]] = None,
      live: Option[Seq[String]] = None) {

    def toState(location: String): DerivedTable.State = {
      def need[A](v: Option[A], name: String): A = v.getOrElse(
        throw new Unparseable(
          s"derived sidecar at $location: missing field '$name'", null))
      DerivedTable.State(need(derivedOf, "derived_of"),
        need(baseVersion, "base_version"), need(dim, "dim").toInt,
        need(numShards, "num_shards").toInt, need(lshSeed, "lsh_seed"),
        need(metric, "metric"), need(generation, "generation"),
        need(live, "live"), need(schemaDdl, "schema_ddl"),
        files.getOrElse(Nil).flatMap(e => e.liveFiles.map(e.fd -> _)).toMap)
    }
  }

  object DerivedSidecar {
    def of(st: DerivedTable.State): DerivedSidecar = DerivedSidecar(
      derivedOf = Some(st.baseLocation), baseVersion = Some(st.baseVersion),
      dim = Some(st.dim.toLong), numShards = Some(st.numShards.toLong),
      lshSeed = Some(st.seed), metric = Some(st.metric),
      generation = Some(st.generation), schemaDdl = Some(st.schemaDdl),
      files = Some(st.live.distinct.flatMap(d => st.liveFiles.get(d)
        .map(FileEntry.of(d, None, _)))).filter(_.nonEmpty),
      live = Some(st.live))
  }

  /** `<state>/_state.<v>.json`, the incremental aggregate's pointer:
    * the committed batch id and bucket → owning version dir.
    * `complete` is written last, so a body cut before it is rejected. */
  final case class StatePointer(
      @JsonDeserialize(contentAs = classOf[JLong]) batchId: Option[Long] = None,
      @JsonDeserialize(keyAs = classOf[java.lang.Integer], contentAs = classOf[JLong])
      owners: Map[Int, Long] = Map.empty,
      complete: Boolean = false)

  /** `<lake>/_recall/calib.json`: the multiprobe recall ladder and the
    * routing fingerprint and data volume it was measured under. */
  final case class RecallCalib(
      @JsonDeserialize(contentAs = classOf[JLong]) dim: Option[Long] = None,
      @JsonDeserialize(contentAs = classOf[JLong]) numHashes: Option[Long] = None,
      @JsonDeserialize(contentAs = classOf[JLong]) lshSeed: Option[Long] = None,
      metric: Option[String] = None,
      @JsonDeserialize(contentAs = classOf[Integer]) k: Option[Int] = None,
      @JsonDeserialize(contentAs = classOf[Integer]) sample: Option[Int] = None,
      stamp: Option[String] = None,
      @JsonDeserialize(contentAs = classOf[JLong]) bytes: Option[Long] = None,
      @JsonDeserialize(contentAs = classOf[java.lang.Double]) recalls: Seq[Double] = Nil)

  /** `<model>/_ivf_meta.json`. */
  final case class IvfMeta(k: Int, dim: Int, fingerprint: String)

  /** `<model>/_pq_meta.json`. */
  final case class PqMeta(m: Int, k: Int, subDim: Int, fingerprint: String)
}
