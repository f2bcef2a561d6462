package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** A Spark [[FileIndex]] over a snapshot manifest's explicit file list, sized
  * from the byte counts its shards recorded at commit time
  * ([[Snapshots.FileRows]]`.bytes`). Planning a scan over it makes no
  * file-system call: `spark.read.parquet(files…)` would glob every path,
  * `getFileStatus` every file, and above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` files run a
  * distributed listing job — on an object store one request per file per
  * read. Only files whose shard recorded no size (earlier shard
  * generations) are stat-ed, once, when the index is built.
  *
  * A status built from a recorded size carries no modification time (0), so
  * `_metadata.file_modification_time` reads 1970-01-01 on snapshot scans
  * and is not meaningful there.
  *
  * Files are immutable, so the index never refreshes, and two indexes over
  * the same (path, size) set are equal — as `InMemoryFileIndex` is over its
  * root paths — which keeps `sameResult`, exchange reuse and cache lookups
  * matching two reads of one version. */
final class ManifestFileIndex private (statuses: Seq[FileStatus]) extends FileIndex {

  private val listed = statuses.map(FileStatusWithMetadata(_))

  private lazy val key: Set[(Path, Long)] = statuses.iterator.map(s => (s.getPath, s.getLen)).toSet

  override def rootPaths: Seq[Path] = statuses.map(_.getPath)

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, listed))

  override def inputFiles: Array[String] = statuses.map(_.getPath.toUri.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.iterator.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()

  override def equals(other: Any): Boolean = other match {
    case o: ManifestFileIndex => key == o.key
    case _ => false
  }

  override def hashCode(): Int = key.hashCode()
}

object ManifestFileIndex {

  /** Index `files` (absolute URIs; duplicates collapse, as Spark's listing
    * does). `bytes` holds the recorded sizes the caller trusts, keyed by
    * full path; a file it has no size for, or a negative one, is stat-ed
    * instead. Zero-length files are dropped, as `PartitioningAwareFileIndex`
    * drops them. */
  def apply(conf: Configuration, files: Seq[String], bytes: Map[Path, Long]): ManifestFileIndex = {
    val statuses = files.distinct.map { u =>
      val p = new Path(u)
      bytes.get(p).filter(_ >= 0L) match {
        case Some(known) => new FileStatus(known, false, 1, 0L, 0L, p)
        case None => p.getFileSystem(conf).getFileStatus(p)
      }
    }
    new ManifestFileIndex(statuses.filter(_.getLen > 0))
  }

  /** A parquet scan of `files` planned against `schema`: the relation
    * `DataSource.resolveRelation` builds for `spark.read.schema(schema)
    * .parquet(files…)`, over a [[ManifestFileIndex]] instead of a listing.
    * The data schema is forced nullable, as that method forces it: a file
    * written before a column existed fills it with nulls. */
  def scan(spark: SparkSession, files: Seq[String], bytes: Map[Path, Long],
      schema: StructType): DataFrame = {
    val index = apply(spark.sparkContext.hadoopConfiguration, files, bytes)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
      nullable(schema).asInstanceOf[StructType], None, new ParquetFileFormat, Map.empty)(spark))
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
