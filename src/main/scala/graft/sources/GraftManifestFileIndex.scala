package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitioningAwareFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StructField, StructType}

/** A [[org.apache.spark.sql.execution.datasources.FileIndex]] served
  * straight from the sidecar's FILE-level manifest — the zero-listing
  * read path (guide §6: "table formats with manifest metadata avoid
  * directory listing altogether, which is one of the strongest
  * practical arguments for them at scale").
  *
  * Every [[org.apache.hadoop.fs.FileStatus]] this index serves was
  * resolved before planning — recorded at COMMIT time ([[graft.Lake]]
  * `writeState`) or listed once by the lake's file resolver — so
  * planning a scan performs ZERO `listStatus` calls of its own; for a
  * manifest-recorded entry that means none against the data tree — on an
  * object store that turns O(live directories) round trips per query
  * into none, and it removes the last reason a reader's latency grows
  * with the lake's directory count. Partition pruning works exactly as
  * with the stock `InMemoryFileIndex`: the partition spec is built from
  * the manifest's directory names, and `PartitioningAwareFileIndex`
  * prunes against it before touching `leafDirToChildrenFiles`.
  *
  * Sound because a committed (directory, generation) manifest entry is
  * immutable until vacuum retires it wholesale — the same invariant the
  * listing-based read already relied on. */
private[graft] final class GraftManifestFileIndex(
    spark: SparkSession,
    spec: PartitionSpec,
    dirFiles: Seq[(Path, Array[FileStatus])])
  extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  override def partitionSpec(): PartitionSpec = spec

  override protected val leafFiles: mutable.LinkedHashMap[Path, FileStatus] = {
    val m = new mutable.LinkedHashMap[Path, FileStatus]
    dirFiles.foreach { case (_, fl) => fl.foreach(f => m.put(f.getPath, f)) }
    m
  }

  override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    dirFiles.toMap

  override def rootPaths: Seq[Path] = dirFiles.map(_._1)

  /** The manifest IS the state — a commit writes a new sidecar version
    * and readers resolve a fresh index from it; nothing here can go
    * stale within one plan's lifetime. */
  override def refresh(): Unit = ()
}

private[graft] object GraftManifestFileIndex {

  /** Block size stamped on manifest-served `FileStatus`es. Split
    * planning sizes scan tasks from `maxPartitionBytes`/`openCostInBytes`
    * and file LENGTH — the block size only feeds locality hints, which
    * a manifest read has none of. */
  val BlockSize: Long = 128L * 1024 * 1024

  def status(dir: Path, name: String, len: Long, mod: Long): FileStatus =
    new FileStatus(len, false, 1, BlockSize, mod, new Path(dir, name))

  /** One partitioned-directory branch as a DataFrame: `dirs` pairs each
    * QUALIFIED partition directory with its single partition-column
    * value and its manifest-recorded files. Schema/semantics match the
    * `spark.read.schema(data + part).option("basePath", ...).parquet(dirs)`
    * read it replaces — same pinned data schema (field metadata
    * included), same partition column appended last — minus every
    * `listStatus`. */
  def frame(spark: SparkSession, dataSchema: StructType,
      partField: StructField,
      dirs: Seq[(Path, Any, Array[FileStatus])]): DataFrame = {
    val partSchema = StructType(Seq(partField))
    val spec = PartitionSpec(partSchema,
      dirs.map { case (p, v, _) => PartitionPath(InternalRow(v), p) })
    val index = new GraftManifestFileIndex(spark, spec,
      dirs.map { case (p, _, fl) => p -> fl })
    val relation = HadoopFsRelation(index, partSchema, dataSchema, None,
      new ParquetFileFormat(), Map.empty)(spark)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(relation)
  }
}
