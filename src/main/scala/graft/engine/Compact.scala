package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Small-files compaction for a Hive-partitioned columnar lake — the
  * maintenance operator every streaming-ingested layout eventually needs:
  * each `lakeSink` micro-batch (or hourly backfill task) appends its own
  * files, and after a day a hot `event_date=` directory holds thousands of
  * kilobyte files whose open/footer overhead dominates every scan.
  *
  * Shape: one metadata walk finds leaf partition directories whose file
  * count exceeds ceil(bytes / targetFileBytes); ONE distributed job reads
  * just those partitions (partition pruning keeps healthy directories out of
  * the scan entirely) and rewrites them into a staging tree, salted so each
  * directory lands ~its byte-proportional file count; then a per-partition
  * delete+rename swaps each compacted directory in. Work scales with the
  * data in NEEDY partitions only — compacting one hot date of a 100 TB lake
  * reads one date. The swap is atomic per partition (a Hadoop rename), not
  * across partitions — concurrent readers of a mid-swap lake see each
  * partition either fully old or fully new, the same contract as any
  * non-transactional Hive layout.
  */
object Compact {

  /** before/after evidence of one compaction run. */
  final case class Stats(partitions: Int, filesBefore: Int, filesAfter: Int)

  private case class Leaf(rel: String, files: Int, bytes: Long)

  /** Compact partition directories under `uri` whose file count exceeds the
    * byte-proportional target. Returns what was done (Stats(0,0,0) = lake
    * already healthy; no job ran). Parquet/ORC only — the columnar formats
    * a lake stores. */
  def compact(
      spark: SparkSession,
      uri: String,
      format: String = "parquet",
      targetFileBytes: Long = 128L * 1024 * 1024): Stats = {
    require(Set("parquet", "orc").contains(format), s"compact supports parquet|orc, got $format")
    require(targetFileBytes > 0, "targetFileBytes must be > 0")
    val root = new Path(uri)
    val filesystem = EngineFs.of(spark, uri)
    // a streaming file-sink tree is read THROUGH its manifest; rewriting
    // files underneath it would leave the manifest pointing at deleted parts.
    // Retire the manifest first (freezing the stream) before compacting.
    require(!filesystem.exists(new Path(root, "_spark_metadata")),
      s"$uri carries a streaming-sink manifest (_spark_metadata) — move it aside " +
        "before compacting, or readers resolving through it will break")

    val leaves = collectLeaves(filesystem, root, "")
    require(leaves.nonEmpty && leaves.forall(_.rel.nonEmpty),
      s"$uri is not a partitioned directory tree (data files at the root)")
    val needy = leaves.filter(l => l.files > desiredFiles(l.bytes, targetFileBytes))
    if (needy.isEmpty) return Stats(0, 0, 0)

    // partition keys from the first leaf's k=v path segments; values per leaf
    val keys = needy.head.rel.split('/').map(_.split("=", 2)(0)).toSeq
    def values(l: Leaf): Seq[String] =
      l.rel.split('/').map(seg => unescape(seg.split("=", 2)(1))).toSeq

    // prune the scan to needy partitions, then route each row to a GLOBAL
    // output-file bucket: every needy partition owns the contiguous id range
    // [offset, offset + ceil(B / target)) — a row's bucket is its
    // partition's offset plus a data-hash salt within the range. Range
    // partitioning on the bucket id with exactly `total` partitions gives
    // each bucket its own task, so file counts come out byte-proportional
    // instead of depending on hash collisions across a small task count.
    val plan = needy.map(l => (values(l), desiredFiles(l.bytes, targetFileBytes)))
    val offsets = plan.scanLeft(0)(_ + _._2)
    val total = offsets.last
    val df = spark.read.format(format).load(uri)
    def matches(vals: Seq[String]) =
      keys.zip(vals).map { case (k, v) => col(k).cast("string") === lit(v) }
        .reduce(_ && _)
    val needyPred = plan.map(p => matches(p._1)).reduce(_ || _)
    val bucketExpr = plan.zip(offsets).foldLeft(lit(0)) {
      case (acc, ((vals, n), offset)) =>
        when(matches(vals), lit(offset) + pmod(hash(df.columns.filterNot(keys.contains).map(col): _*), lit(n)))
          .otherwise(acc)
    }

    val staging = new Path(root.getParent, root.getName + ".__compact")
    filesystem.delete(staging, true)
    df.filter(needyPred)
      .withColumn("__bucket", bucketExpr)
      .repartitionByRange(total, col("__bucket"))
      .drop("__bucket")
      .write.mode(SaveMode.Overwrite)
      .partitionBy(keys: _*)
      .format(format).save(staging.toString)

    // swap each compacted directory in; staging scraps removed last
    needy.foreach { l =>
      val target = new Path(root, l.rel)
      val staged = new Path(staging, l.rel)
      require(filesystem.exists(staged), s"compaction produced no directory for ${l.rel}")
      filesystem.delete(target, true)
      require(filesystem.rename(staged, target), s"swap failed for ${l.rel}")
    }
    filesystem.delete(staging, true)

    val after = collectLeaves(filesystem, root, "")
      .filter(l => needy.exists(_.rel == l.rel)).map(_.files).sum
    Stats(needy.size, needy.map(_.files).sum, after)
  }

  private def desiredFiles(bytes: Long, target: Long): Int =
    math.max(1, ((bytes + target - 1) / target)).toInt

  /** Leaf partition dirs (those holding data files), with rel path from
    * root. Metadata-only: one listing per directory, no data read. */
  private def collectLeaves(filesystem: FileSystem, dir: Path, rel: String): Seq[Leaf] = {
    val entries = filesystem.listStatus(dir)
      .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
    val data = entries.filter(_.isFile)
    val subs = entries.filter(_.isDirectory).flatMap { d =>
      collectLeaves(filesystem, d.getPath, if (rel.isEmpty) d.getPath.getName else s"$rel/${d.getPath.getName}")
    }
    (if (data.nonEmpty) Seq(Leaf(rel, data.length, data.map(_.getLen).sum)) else Nil) ++ subs
  }

  /** Minimal inverse of Hive's %XX path escaping (ExternalCatalogUtils);
    * deliberately NOT URLDecoder, whose '+' → space rule would corrupt
    * legitimate '+' in values. */
  private def unescape(s: String): String = {
    val out = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 2 < s.length) {
        out.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else {
        out.append(s.charAt(i))
        i += 1
      }
    }
    out.toString
  }
}
