package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Object-store DataFrame I/O (reference: pandas_aws/s3.py), on Hadoop FS
  * URIs — `file:/` in tests, `s3a://` in production. The engine never talks
  * to an object-store SDK directly; Hadoop FS does, which deletes the
  * reference's hand-rolled listing/pagination/multipart-HTTP entirely
  * (SURVEY.md §7.1) and replaces its serial one-request-per-part driver loop
  * (pandas_aws/s3.py:188-202) with parallel per-partition task writes.
  *
  * Scale notes: `parts`+`sortKeys` (reference `_get_splited_df_streams`,
  * pandas_aws/s3.py:56-97 — driver-side np.array_split after a single-node
  * sort) becomes `repartitionByRange(n, keys) + sortWithinPartitions` — a
  * range exchange producing the same globally-sorted sequence of part files
  * with no single point holding the data. Exact reference key naming
  * (`<stem>/<stem>.<i>.<ext>`, pandas_aws/s3.py:188-195) is an opt-in rename
  * pass: on S3A a rename is a copy, so the scalable default is Spark's native
  * `part-*` layout and naming parity costs extra only when asked for.
  */
object S3Like {

  val formats: Set[String] = Set("csv", "parquet", "orc", "json", "xlsx", "object")

  /** Key listing under a prefix with optional suffix filter (reference
    * `get_keys`, pandas_aws/s3.py:18-53: server-side Prefix + client-side
    * endswith + pagination). Hadoop's RemoteIterator does paginated listing;
    * we expose a lazy Iterator like the reference's generator. */
  def listKeys(spark: SparkSession, prefixUri: String, suffix: String = ""): Iterator[String] = {
    val p = new Path(prefixUri)
    val filesystem = EngineFs.of(spark, prefixUri)
    if (!filesystem.exists(p)) Iterator.empty
    else {
      val it = filesystem.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(_.getPath.toString)
        .filter(k => suffix.isEmpty || k.endsWith(suffix))
        .filterNot(_.split('/').last.startsWith("_")) // _SUCCESS etc.
    }
  }

  /** Write a DataFrame (reference `put_df`, pandas_aws/s3.py:100-202).
    *
    * @param parts      horizontal split count (reference np.array_split)
    * @param sortKeys   global sort before split (total order across files)
    * @param exactNaming reproduce reference multipart key naming via a
    *                    metadata rename pass (parts==1 → single file at uri)
    * @param partitionKeys Hive-style directory partitioning (`partitionBy`) —
    *                    the distributed form of the reference's prefix-keyed
    *                    S3 layout (its `get_keys` server-side `Prefix` filter,
    *                    pandas_aws/s3.py:33-35): a filter on a partition
    *                    column prunes whole directories at plan time
    *                    (`PartitionFilters` in the scan) instead of listing
    *                    and reading everything. Rows are pre-shuffled on the
    *                    partition keys so each directory receives one file
    *                    per writing task that owns the key — not one small
    *                    file per (task × key), the classic small-files trap.
    * @param zorderKeys Morton-curve clustering across `parts` files
    *                    (engine.ZOrder): rows close in EVERY listed dimension
    *                    land in the same files, so each file's columnar
    *                    min/max stats cover a narrow slice of each dimension
    *                    and multi-column band predicates skip most files —
    *                    the multi-dimension complement of sortKeys' single
    *                    total order. Layout-only (row set unchanged).
    */
  def putDf(
      df: DataFrame,
      uri: String,
      format: String = "csv",
      compression: Option[String] = None,
      parts: Int = 1,
      sortKeys: Seq[String] = Nil,
      exactNaming: Boolean = false,
      partitionKeys: Seq[String] = Nil,
      zorderKeys: Seq[String] = Nil,
      options: Map[String, String] = Map.empty): Unit = {
    EngineFs.install(df.sparkSession.sparkContext)
    require(parts > 0, "parts must be > 0")
    require(formats.contains(format), s"format $format not in $formats")
    compression.foreach(c => require(c == "gzip" && format == "csv",
      "compression: only gzip, and only with csv (reference parity, pandas_aws/s3.py:147-149)"))
    // renameParts only understands Spark's part-* directory layout; xlsx is a
    // natural single file (written verbatim at uri below) and object carries a
    // _schema.json sidecar that a rename pass would orphan.
    require(!exactNaming || Set("csv", "parquet", "orc", "json", "xlsx").contains(format),
      s"exactNaming is not supported for format=$format")
    if (partitionKeys.nonEmpty) {
      require(Set("csv", "parquet", "orc", "json").contains(format),
        s"partitionKeys need a directory-layout format, not $format")
      require(!exactNaming && sortKeys.isEmpty && (parts == 1 || zorderKeys.nonEmpty),
        "partitionKeys is a directory layout — exactNaming/sortKeys do not compose with " +
          "it, and parts only does together with zorderKeys (total clustered-file count)")
      require(partitionKeys.forall(df.columns.contains),
        s"partition keys $partitionKeys not all in ${df.columns.toSeq}")
    }

    if (zorderKeys.nonEmpty) {
      require(Set("parquet", "orc").contains(format),
        "zorderKeys cluster for columnar min/max skipping — parquet|orc only")
      require(sortKeys.isEmpty && !exactNaming,
        "zorderKeys replaces sortKeys' total order — sortKeys/exactNaming do not compose")
      require(zorderKeys.forall(df.columns.contains),
        s"z-order keys $zorderKeys not all in ${df.columns.toSeq}")
    }

    val arranged =
      // partitionKeys × zorderKeys compose: directory pruning on the coarse
      // key + Morton-clustered files inside each directory (ZOrder scaladoc)
      if (zorderKeys.nonEmpty && partitionKeys.nonEmpty)
        ZOrder.clusterWithin(df, partitionKeys, zorderKeys, parts)
      else if (zorderKeys.nonEmpty) ZOrder.cluster(df, zorderKeys, parts)
      else if (partitionKeys.nonEmpty) df.repartition(partitionKeys.map(col): _*)
      else if (sortKeys.nonEmpty) {
        require(sortKeys.forall(df.columns.contains), s"sort keys $sortKeys not all in ${df.columns.toSeq}")
        df.repartitionByRange(parts, sortKeys.map(col): _*).sortWithinPartitions(sortKeys.map(col): _*)
      } else if (format == "xlsx") df // driver-side codec splits rows itself
      else if (parts == 1) df.coalesce(1) // narrow, no shuffle
      else df.repartition(parts)

    val outDir = if (exactNaming && format != "xlsx") uri + ".__tmp" else uri
    def dirWriter = {
      val w0 = arranged.write.mode(SaveMode.Overwrite).options(options)
      if (partitionKeys.nonEmpty) w0.partitionBy(partitionKeys: _*) else w0
    }
    format match {
      case "csv" =>
        val w = dirWriter.option("header", "true")
        compression.fold(w)(c => w.option("compression", c)).csv(outDir)
      case "parquet" => dirWriter.parquet(outDir)
      case "orc"     => dirWriter.orc(outDir)
      case "json"    => dirWriter.json(outDir)
      case "xlsx" if parts > 1 =>
        // reference multipart layout <dir>/<stem>/<stem>.<i>.<rest>, built
        // directly (no part-* rename pass — the codec is driver-side). The
        // part name keeps ALL basename segments (pandas_aws/s3.py:193-195):
        // a.b.xlsx → a/a.1.b.xlsx, not a/a.1.xlsx
        val target = new Path(uri)
        val (stem, suffix) = stemAndSuffix(target.getName, "xlsx")
        val dir = new Path(target.getParent, stem)
        val filesystem = EngineFs.of(df.sparkSession, uri)
        clearParts(filesystem, dir, stem, suffix)
        Xlsx.writeParts(arranged, dir.toString, stem, suffix, parts)
      case "xlsx"   => Xlsx.write(arranged, outDir)
      case "object" => ObjectFormat.write(arranged, outDir)
    }
    if (exactNaming && format != "xlsx") renameParts(df.sparkSession, outDir, uri, format, compression)
  }

  /** Multipart name pieces from a key's basename: `(first segment, every
    * remaining segment joined)` — the reference composes part names from ALL
    * basename segments (pandas_aws/s3.py:193-195), so `a.b.xlsx` parts are
    * `a.1.b.xlsx`. A missing extension falls back to `defaultSuffix`; an
    * empty stem (`.xlsx`) would degenerate into hidden-file part names and
    * is rejected. */
  private def stemAndSuffix(basename: String, defaultSuffix: String): (String, String) = {
    val segs = basename.split('.')
    require(segs.nonEmpty && segs.head.nonEmpty,
      s"multipart key needs a non-empty stem before the first '.': '$basename'")
    (segs.head, if (segs.length > 1) segs.tail.mkString(".") else defaultSuffix)
  }

  /** Prepare a multipart directory without destroying unrelated content:
    * only this codec's own `<stem>.<i>.<suffix>` part files are removed — a
    * blanket recursive delete would silently destroy a pre-existing object
    * or directory that happens to share the stem's path. */
  private def clearParts(filesystem: FileSystem, dir: Path, stem: String, suffix: String): Unit = {
    import java.util.regex.Pattern
    val partRe = ("^" + Pattern.quote(stem) + "\\.\\d+\\." + Pattern.quote(suffix) + "$").r
    if (filesystem.exists(dir)) {
      require(filesystem.getFileStatus(dir).isDirectory,
        s"multipart target $dir exists and is not a directory")
      filesystem.listStatus(dir)
        .filter(st => st.isFile && partRe.findFirstIn(st.getPath.getName).isDefined)
        .foreach(st => filesystem.delete(st.getPath, false))
    } else filesystem.mkdirs(dir)
  }

  /** Reference multipart naming (pandas_aws/s3.py:188-195, verified by
    * tests/test_s3.py:163-171): n parts under `dir/key.ext` become
    * `dir/key/key.<i>.ext` (1-based); one part lands verbatim at `dir/key.ext`.
    * Pure FS-metadata pass over already-written files. */
  private def renameParts(
      spark: SparkSession, tmpDir: String, uri: String,
      format: String, compression: Option[String]): Unit = {
    val filesystem = EngineFs.of(spark, uri)
    val gz = compression.map(_ => ".gz").getOrElse("")
    val partFiles = filesystem.listStatus(new Path(tmpDir))
      .map(_.getPath).filter(p => p.getName.startsWith("part-")).sortBy(_.getName)
    val target = new Path(uri)
    if (partFiles.length == 1) {
      filesystem.delete(target, true)
      filesystem.rename(partFiles.head, target)
    } else {
      val (stem, suffix) = stemAndSuffix(target.getName, format + gz)
      // the declared compression extends the name-derived suffix the same
      // way the writer extends the data files (key.csv+gzip → key.1.csv.gz)
      val fullSuffix = if (suffix.endsWith(gz)) suffix else suffix + gz
      val dir = new Path(target.getParent, stem)
      clearParts(filesystem, dir, stem, fullSuffix)
      partFiles.zipWithIndex.foreach { case (p, i) =>
        filesystem.rename(p, new Path(dir, s"$stem.${i + 1}.$fullSuffix"))
      }
    }
    filesystem.delete(new Path(tmpDir), true)
  }

  /** Read one key/dir with a declared format (reference `get_df`,
    * pandas_aws/s3.py:211-240; reader kwargs pass through as options). */
  def getDf(
      spark: SparkSession,
      uri: String,
      format: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    require(formats.contains(format), s"format $format not in $formats")
    format match {
      case "csv" =>
        spark.read.options(options)
          .option("header", options.getOrElse("header", "true"))
          .option("inferSchema", options.getOrElse("inferSchema", "true"))
          .csv(uri)
      case "parquet" => spark.read.options(options).parquet(uri)
      case "orc"     => spark.read.options(options).orc(uri)
      case "json"    => spark.read.options(options).json(uri)
      case "xlsx"    => Xlsx.read(spark, uri)
      case "object"  => ObjectFormat.read(spark, uri)
    }
  }

  /** Multi-file union read (reference `get_df_from_keys`,
    * pandas_aws/s3.py:243-294). `format`:
    *   - "suffix": dispatch per file extension — files are grouped by
    *     extension, one multi-path Spark scan per group, `unionByName` across
    *     groups (this fixes, not reproduces, the reference's first-file
    *     format lock-in quirk at pandas_aws/s3.py:272)
    *   - "mixed": magic-byte sniff per file (PAR1→parquet, PK→xlsx, else
    *     csv/json by content) — the robust version of the reference's
    *     try-parse-in-order loop (pandas_aws/s3.py:275-285)
    *   - explicit format: one multi-path scan
    * Returns None when nothing matches (reference returns None,
    * pandas_aws/s3.py:293-294). */
  def getDfFromKeys(
      spark: SparkSession,
      prefixUri: String,
      suffix: String = "",
      format: String = "suffix",
      options: Map[String, String] = Map.empty): Option[DataFrame] = {
    val keys = listKeys(spark, prefixUri, suffix).toSeq
    if (keys.isEmpty) return None
    val byFormat: Map[String, Seq[String]] = format match {
      case "suffix" => keys.groupBy(k => extensionFormat(k.split('/').last))
      case "mixed"  => keys.groupBy(k => sniffFormat(spark, k))
      case f        => Map(f -> keys)
    }
    val dfs = byFormat.toSeq.sortBy(_._1).map { case (f, ks) =>
      require(formats.contains(f), s"unresolvable format '$f' for keys ${ks.take(3)}")
      if (f == "xlsx" || f == "object") ks.map(getDf(spark, _, f, options)).reduce(_.unionByName(_, true))
      else multiRead(spark, ks, f, options) // one multi-path scan
    }
    Some(dfs.reduce(_.unionByName(_, true)))
  }

  /** One FileScan over many keys — Spark parallelizes per-file tasks natively
    * (vs. the reference's serial one-GET-per-key driver loop). */
  private def multiRead(
      spark: SparkSession, keys: Seq[String], format: String,
      options: Map[String, String]): DataFrame = {
    val r = format match {
      case "csv" =>
        spark.read.options(options)
          .option("header", options.getOrElse("header", "true"))
          .option("inferSchema", options.getOrElse("inferSchema", "true"))
      case "parquet" => // ragged-schema keys union by name (schema merge)
        spark.read.options(options)
          .option("mergeSchema", options.getOrElse("mergeSchema", "true"))
      case _ => spark.read.options(options)
    }
    r.format(format).load(keys: _*)
  }

  private def extensionFormat(name: String): String = {
    val parts = name.split('.')
    parts.reverse.find(e => formats.contains(e) || e == "pkl" || e == "obj") match {
      case Some("pkl") | Some("obj") => "object"
      case Some(e)                   => e
      case None                      => parts.last
    }
  }

  /** Magic-byte format sniff — reads only a few header (and, for ORC,
    * trailer) bytes of each object (the reference downloads and try-parses
    * whole objects serially). */
  private[engine] def sniffFormat(spark: SparkSession, uri: String): String = {
    val filesystem = EngineFs.of(spark, uri)
    val len = filesystem.getFileStatus(new Path(uri)).getLen
    val in = filesystem.open(new Path(uri))
    val head = new Array[Byte](4)
    val n = try { in.readFully(0, head, 0, Math.min(4, len).toInt); 4 }
      catch { case _: Throwable => 0 }
      finally in.close()
    val s = new String(head, 0, n, "ISO-8859-1")
    // ORC's 3-ASCII-letter header magic collides with e.g. a CSV whose first
    // column is ORCHARD_ID — confirm with the trailing postscript magic:
    // every real ORC file ends with "ORC" followed by the one-byte
    // postscript length, i.e. bytes [len-4, len-2]
    def orcTail: Boolean = len >= 7 && {
      val tin = filesystem.open(new Path(uri))
      val tail = new Array[Byte](4)
      try { tin.readFully(len - 4, tail, 0, 4); new String(tail, 0, 3, "ISO-8859-1") == "ORC" }
      catch { case _: Throwable => false }
      finally tin.close()
    }
    if (s.startsWith("PAR1")) "parquet"
    else if (s.startsWith("ORC") && orcTail) "orc"
    else if (s.startsWith("PK")) "xlsx"
    else if (s.startsWith("{")) "json"
    else if (head.take(2).sameElements(Array(0x1f.toByte, 0x8b.toByte))) {
      // Spark's text readers gunzip by file extension only \u2014 a gzip object
      // without .gz would be parsed as raw bytes and yield silent garbage.
      require(uri.endsWith(".gz"),
        s"gzip-compressed object without .gz extension cannot be read reliably: $uri")
      "csv"
    }
    else if (s.startsWith("\u00ac\u00ed")) "object" // java serialization magic 0xaced
    else "csv"
  }
}
