package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, IntegerType, LongType, ShortType, StringType, StructType}

/** One WHEN clause of a conditional [[Snapshots.mergeInto]]. Conditions and
  * SET/VALUES expressions are ordinary Columns over the aliased sides:
  * `t.<col>` is the target row, `s.<col>` the source row ([[MergeClause.Insert]]
  * sees `s.*` only — there is no target row to reference). Clauses apply
  * FIRST-MATCH-WINS in the order given, the SQL MERGE contract; a matched
  * pair no clause accepts carries the target row unchanged. */
sealed trait MergeClause

object MergeClause {
  /** WHEN MATCHED [AND cond] THEN UPDATE SET — `set` maps target columns to
    * their new values; unset columns keep the target's value. */
  final case class Update(set: Map[String, Column], cond: Option[Column] = None)
      extends MergeClause

  /** WHEN MATCHED [AND cond] THEN DELETE. */
  final case class Delete(cond: Option[Column] = None) extends MergeClause

  /** WHEN NOT MATCHED [AND cond] THEN INSERT — `values` maps target columns
    * to expressions over `s.*`; an empty map inserts the source row by
    * column name (target columns the source lacks fill null). */
  final case class Insert(values: Map[String, Column] = Map.empty,
      cond: Option[Column] = None) extends MergeClause

  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET — target rows
    * whose key has NO source row (the full-sync shape: "whatever the feed
    * stopped mentioning, mark stale"). Conditions and SET expressions see
    * `t.*` only — there is no source row. Presence of any by-source clause
    * makes the merge a FULL-TABLE operation (every target row must be
    * tested against source absence — no file can be pruned), which is what
    * full-sync inherently costs; keep feeds complete or conditions tight. */
  final case class BySourceUpdate(set: Map[String, Column],
      cond: Option[Column] = None) extends MergeClause

  /** WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE. */
  final case class BySourceDelete(cond: Option[Column] = None) extends MergeClause
}

/** Snapshot-manifested table layout: atomic multi-file commits, time-travel
  * reads, optimistic concurrency, and reader-safe compaction.
  *
  * Why this exists at 100 TB: a directory-is-the-table layout (S3Like.putDf,
  * and the reference's whole key-prefix model, pandas_aws/s3.py:33-35) makes
  * a multi-file write visible file by file — a concurrent reader sees a
  * half-written dataset, an overwrite is a destructive window, and a
  * compaction (Compact.scala) swaps files under running queries. The fix is
  * the manifest pattern (Iceberg/Delta's core idea, re-expressed minimally):
  * data files are IMMUTABLE and appear in no query until a manifest lists
  * them; a commit is the creation of ONE small json file; readers pin the
  * manifest they opened with and are immune to everything committed later.
  *
  * Concurrency contract: version v is owned by whoever exclusively creates
  * `_snapshots/manifest-v.json` (`FileSystem.create(overwrite=false)` — an
  * atomic create-if-absent on local/HDFS; an object store needs its
  * conditional-put header here, the one primitive a catalog service
  * supplies). Losers observe the collision and retry at v+1 against the
  * refreshed head — optimistic concurrency with no lock server. The HEAD
  * version is derived by listing `_snapshots/` (one listing of a directory
  * holding one small file per commit — never a data-file listing).
  *
  * Scale shape: reads scan a [[ManifestFileIndex]] over the manifest's
  * explicit file list and the file sizes its shards recorded — planning
  * makes no file-system call at all: no directory listing of the data
  * tree, no per-file status request, no listing job however many files the
  * version holds (only files from shards that recorded no size are
  * stat-ed). At lake scale (millions of objects, one object-store request
  * each) that is the difference between plan-time milliseconds and
  * minutes. Writes are the mirror image: a batch's data files go straight
  * to their final names through the engine's own parquet writer
  * ([[BatchFiles]]) — no output committer, so no attempt directories, no
  * renames, no `_SUCCESS` marker and no listing of what was written (the
  * writer reports it) — and a batch already in driver memory (the
  * reference's whole call shape: every verb takes an in-memory frame) is
  * written with no Spark job at all. Compaction commits a rewritten file
  * set as a NEW version: pinned readers keep their files (vacuum is the
  * explicit, separate destruction step), and the head flips atomically.
  */
object Snapshots {

  /** Per-file numeric column range, collected at commit time. The manifest
    * becomes a file-level min/max index: a range predicate prunes the FILE
    * LIST before the scan is even planned — the complement of row-group
    * stats (which require opening every footer) and the payoff side of
    * z-order/range clustering (tight per-file ranges ⇒ most files prune).
    * `nulls` is the file's null count for the column (-1 = unknown: a
    * footer chunk without a null count): [[countWhere]] may only count a
    * file from metadata when the conjunct's column provably has NO nulls
    * there — a null row fails every comparison, so a nulls-bearing file
    * must scan.
    * STRING columns (round 15) record their bounds in `slo`/`shi` instead
    * (UTF8-byte order — Spark's UTF8String min/max and parquet's unsigned
    * binary comparator agree on it); `min`/`max` hold inert placeholders
    * for them, and every numeric consumer keys off the SCHEMA type so the
    * two families never cross. What string bounds buy at 100 TB: prefix
    * (`LIKE 'abc%'`), equality, and IN predicates over sorted/z-ordered
    * doc/source keys prune FILES from the manifest alone, the exact
    * complement of the [[FileBloom]] equality index. */
  final case class ColStats(file: String, col: String, min: Double, max: Double,
      nulls: Long = -1L, slo: String = null, shi: String = null,
      // exact per-file SUM of an integral/decimal column as a plain decimal
      // string (round 17; null = not recorded — footer-mined stats carry
      // none, the distributed stats pass records it; "!" = the scan TRIED
      // and the value is unrecordable — decimal(38) overflow — so reindex
      // must not re-scan). Funds SUM aggregate pushdown: "daily revenue /
      // token totals" in O(manifest).
      sumS: String = null,
      // NO-RANGE TOMBSTONE (round 19): the file WAS scanned for this
      // column and no range is producible — all-null, or all-NaN float
      // bounds. min/max are inert; `nulls` is real (for an all-null file
      // it equals the row count — the IS NULL full-acceptance proof).
      // Kept out of [[Manifest.stats]] by [[resolve]] so no range
      // consumer can ever read the inert bounds; its jobs are (a) telling
      // [[reindexStats]] the absence is by design, not decay, and (b)
      // funding IS NULL / IS NOT NULL mining via [[Manifest.tombs]].
      nr: Boolean = false)

  /** Per-file row count (file keyed by basename, like [[ColStats]]),
    * recorded at shard-write time — from the stats pass when one runs,
    * else from the parquet footers (metadata-only reads, no Spark job).
    * What lets `count(*)` and fully-contained band counts answer in
    * O(metadata): see [[rowCount]] / [[countWhere]]. Pre-round-8 shards
    * carry none; consumers degrade to scanning.
    * Round 16: `bytes` (on-disk size, -1 in earlier shards = unknown)
    * funds byte-based streaming admission (`maxBytesPerTrigger`) without
    * a per-file RPC at trigger time. */
  final case class FileRows(file: String, n: Long, bytes: Long = -1L)

  /** Per-file Bloom filter over a STRING key column (round 9) — the
    * pruning index [[ColStats]] cannot be for opaque keys. A numeric key
    * prunes merge/delete/point reads by per-file [min, max] ranges; a
    * string doc-id/hash key — a primary corpus-lake shape — has no usable
    * order statistics, so before this every string-keyed merge rewrote the
    * WHOLE table. The bloom answers "can this file contain any of these
    * key values?" with no false negatives: a file whose bloom rejects
    * every batch key provably holds none of them and carries by reference;
    * false positives only cost a spurious rewrite, never correctness.
    * Bits are Spark's own `BloomFilterAggregate` sketch (over
    * `xxhash64(key)`, seed 42) so insertion and the driver-side membership
    * probe share one hash definition; stored base64 in the shard json,
    * sized ~10 bits/row capped at 1 MiB of bits per file (past the cap the
    * FPP degrades gracefully — pruning weakens, correctness holds).
    * Opt-in per commit (`bloomCols`): the sketch pass re-reads the written
    * batch once, a price only string-keyed tables should pay. */
  final case class FileBloom(file: String, col: String, b64: String)

  /** Per-file DELETION VECTOR (round 9, merge-on-read deletes): the set of
    * row POSITIONS (parquet `_metadata.row_index`) deleted from `file`,
    * as a base64 Roaring64 bitmap, plus its cardinality. The scale fix for
    * small deletes: copy-on-write rewrites a whole file to remove a few
    * rows — at 100 TB a GDPR-sized delete (thousands of scattered rows)
    * rewrites terabytes. A DV commit instead writes O(deleted positions)
    * of compressed METADATA: the data file stays byte-identical in place,
    * and every read filters the marked (file, position) pairs out inside
    * its scan, the bitmaps riding in the plan ([[RowFilters.dvLive]]; the
    * Iceberg v2 position-delete / Delta deletion-vector idea). Invariants:
    *  - a DV lives in the same shard entry family as its file; a rewrite
    *    that retires the file retires the DV with it, so a DV can never
    *    outlive or precede its file;
    *  - DVs only GROW through [[deleteWhere]] (bitmap OR — re-deleting is
    *    idempotent); they shrink only by whole-file materialization
    *    ([[materializeDvs]], compaction, or any rewrite path) — or by
    *    [[restore]], which resurrects an old shard state wholesale;
    *  - [[deleteWhere]]'s `maxDvFraction` bounds the live-row waste: past
    *    the threshold the file is rewritten (copy-on-write) instead, so
    *    scan amplification from carrying deleted bytes is capped;
    *  - metadata-only answers ([[rowCount]] subtracts `deleted`;
    *    [[countWhere]]/[[statsRange]] treat DV-bearing files as
    *    must-scan/unknowable) stay exact. */
  final case class FileDv(file: String, b64: String, deleted: Long)

  /** HASH-CLUSTERED table layout (round 13): every data file of the
    * version holds exactly the rows whose `pmod(murmur3(col), buckets)`
    * equals the file's bucket id (the id is the writer's shuffle-partition
    * index, recoverable from the `part-NNNNN` file name). What this buys
    * at 100 TB: two tables clustered on their join keys with the SAME
    * bucket count join with ZERO shuffle on either side — Spark's
    * storage-partitioned join recognizes the DSv2 scans as co-partitioned
    * (`KeyGroupedPartitioning` over `bucket(n, col)`) and plans the join
    * exchange-free, so the dominant cost of a repeated fact⋈fact
    * reconciliation (hash-exchanging BOTH sides) is paid once at write
    * time instead of every query. The spec is a property of one manifest
    * VERSION: any commit that adds unbucketed files or rewrites files
    * (merge, copy-on-write delete, compaction) publishes WITHOUT it —
    * conservative-correct, a drop can never produce a wrong join — while
    * DV-only deletes and metadata-only commits carry it forward (vectors
    * never move rows between files). `col` is recorded PHYSICAL (rename-
    * stable, like ColStats); the resolved view relabels it logical.
    * `sorted` additionally asserts every file's ROWS are ascending on
    * `col` (nulls first — Spark's asc) — the scan then reports the
    * ordering too, and a co-clustered sort-merge join drops its SORTS
    * along with its exchanges.
    * Round 15: `cols` generalizes to COMPOSITE keys as a BUCKET GRID —
    * one single-column `bucket(buckets, c_i)` transform per key (Spark's
    * storage-partitioned-join resolution only accepts single-reference
    * bucket transforms; a joint-hash multi-column transform resolves to a
    * shape EnsureRequirements won't honor). Each data file holds exactly
    * one grid cell, encoded as a flat `-g<i>-<j>-...` basename suffix
    * (ids recovered from the file NAME by [[gridOfFile]], one per cluster
    * column), so a (tenant, day)-keyed fact joins exchange-free on both
    * keys. Grid
    * volume is buckets^k files per commit — keep k small and buckets
    * modest (4-32), which is also what makes each cell file large enough
    * to scan well at 100 TB. */
  final case class Clustering(cols: Seq[String], buckets: Int, sorted: Boolean = false)

  private val PartIdxRe = "part-(\\d+)-.*".r

  /** The writer shuffle-partition index encoded in a data file's name —
    * under a [[Clustering]] spec, the file's bucket id. None for a name
    * outside Spark's `part-NNNNN-` convention (defensive: such a file can
    * never be proven bucket-pure, so callers treat the table unclustered). */
  private[graft] def bucketOfFile(name: String): Option[Int] = name match {
    case PartIdxRe(i) => Some(i.toInt)
    case _ => None
  }

  private val GridRe = ".*-g(\\d+(?:-\\d+)*)\\.parquet".r

  /** COMPOSITE-key recovery: the grid cell ids encoded in a data file's
    * NAME (`part-00004-<uuid>-g3-7.parquet`), one id per cluster column.
    * None when the suffix is missing or the wrong arity — such a file can
    * never be proven cell-pure, so callers treat the table unclustered
    * (conservative, like [[bucketOfFile]]). */
  private[graft] def gridOfFile(name: String, dims: Int): Option[Seq[Int]] =
    name match {
      case GridRe(ids) =>
        val parts = ids.split('-').toSeq
        if (parts.length == dims) Some(parts.map(_.toInt)) else None
      case _ => None
    }

  /** The synthetic grid-id column names a composite clustered write
    * shuffles on (never stored inside the parquet files). */
  private[graft] def gridColNames(dims: Int): Seq[String] =
    (0 until dims).map(i => s"__gb$i")

  /** Version v's clustering spec with its column relabeled LOGICAL —
    * metadata-only (no shard load; the spec and the schema both live in
    * the commit record). None when v is unclustered or uncommitted. */
  def clusteringAt(spark: SparkSession, root: String, v: Long): Option[Clustering] = {
    if (v <= 0) return None
    val mm = manifestMeta(spark, root, v)
    mm.clustering.map { c =>
      val p2l = parseSchemaStr(mm.schema).fields.iterator
        .map(f => physicalOf(f) -> f.name).toMap
      c.copy(cols = c.cols.map(cc => p2l.getOrElse(cc, cc)))
    }
  }

  /** One committed table state, RESOLVED: `files` are absolute URIs,
    * immutable. `tag` is a caller idempotency token ("" = untagged): a
    * commit carrying an already-present tag is skipped, which turns
    * at-least-once callers (streaming foreachBatch replays) into
    * exactly-once table states. `ts` is the publish wall-clock (epoch
    * millis) — what [[readAsOf]] time-travels by. `schema` is the table
    * schema as StructType json: reads plan against THIS — no footer
    * sampling of data files — and files written before a column existed
    * surface it as nulls (the parquet reader's missing-column fill), which
    * is what makes additive schema evolution safe under every other
    * operation here.
    *
    * This is the in-memory VIEW; on disk the file list and stats live in
    * immutable SHARD files (one per commit batch) that the manifest
    * references by name — see [[ManifestMeta]]. */
  final case class Manifest(
      version: Long,
      files: Seq[String],
      parent: Long,
      stats: Seq[ColStats] = Seq.empty,
      tag: String = "",
      ts: Long = 0L,
      schema: String,
      rows: Seq[FileRows] = Seq.empty,
      blooms: Seq[FileBloom] = Seq.empty,
      dvs: Seq[FileDv] = Seq.empty,
      clustering: Option[Clustering] = None,
      // no-range tombstones ([[ColStats.nr]]), SEPARATED from `stats` by
      // [[resolve]] so the inert bounds can never reach a range consumer:
      // the only readers are IS NULL / IS NOT NULL mining (real `nulls`
      // counts) — reindex coverage checks read shards, not this
      tombs: Seq[ColStats] = Seq.empty)

  /** Reference to one immutable metadata shard: `name` is the file under
    * `_snapshots/`, `n` its file-entry count (size hint, no I/O needed to
    * know how big a resolve will be). */
  final case class ShardRef(name: String, n: Long)

  /** The on-disk commit record — Iceberg's manifest-list idea, minimally:
    * a manifest names its metadata SHARDS (each an immutable json holding
    * a file list + that list's ColStats) instead of inlining them. A plain
    * append therefore writes O(batch) metadata — one new shard with the
    * batch's files, plus a manifest whose size is O(#shards), ~40 bytes a
    * ref — where inlining would rewrite every file URI AND every ColStats
    * of the whole table on each commit (O(table), ~100 MB of driver-side
    * json at 1M files). Shards are shared across versions by reference:
    * carried forward untouched on append, filtered (metadata-only rewrite
    * of the AFFECTED shards) on merge/delete, and reclaimed by vacuum when
    * no retained manifest references them.
    *
    * ONE FORMAT: every manifest starts `{"fmt":1,` ([[FormatVersion]]) and
    * [[manifestMeta]] reads no other: an unstamped manifest (an older
    * generation, such as the pre-shard inline layout) or another version
    * fails with one error naming its path. Every commit parses its head
    * first, so nothing commits on top of a refused manifest, and every
    * manifest and shard reachable from a format-1 head is format 1: file
    * lists live in shards, timestamp stats are exact epoch micros, and the
    * schema is recorded and non-empty. Optional keys (`retired`,
    * `clustering`, `indexed`; a shard's `blooms` and `dvs`, a row's `"b"`
    * size, a stat's `sum`, `slo`/`shi` and `nr`) are rendered only when
    * present. A table of an older format is read with the engine that
    * wrote it and its rows committed to a new root. */
  final case class ManifestMeta(
      version: Long,
      parent: Long,
      shardRefs: Seq[ShardRef],
      tag: String,
      ts: Long,
      schema: String,
      retired: Seq[String] = Seq.empty,
      clustering: Option[Clustering] = None,
      /** Advisory index declaration: the PHYSICAL (stats, bloom) column
        * names new appends should index under — carried commit-to-commit
        * so [[appendFiles]] (the per-epoch streaming commit) learns them
        * from the head RECORD alone, O(1), instead of resolving every
        * shard (O(table metadata) per trigger). None until a commit
        * declares one (a converted table's first version) → appendFiles
        * falls back to the full resolve. Advisory only:
        * readers treat missing per-file stats as must-scan, so an
        * imprecise declaration weakens pruning, never correctness. */
      indexed: Option[(Seq[String], Seq[String])] = None)

  /** The on-disk format every manifest is stamped with (`"fmt":1`); the
    * only one [[manifestMeta]] reads — see [[ManifestMeta]]. */
  private val FormatVersion = 1

  /** A loaded shard: its ref plus the content. */
  private final case class Shard(ref: ShardRef, files: Seq[String], stats: Seq[ColStats],
      rows: Seq[FileRows] = Seq.empty, blooms: Seq[FileBloom] = Seq.empty,
      dvs: Seq[FileDv] = Seq.empty)

  /** A read-modify-write commit found the head moved past the version it
    * was computed from. Subclasses IllegalArgumentException so callers
    * catching the historical abort keep working; [[merge]]'s rebase loop
    * catches it PRECISELY (never a different argument error). */
  final class ConcurrentCommitException(msg: String)
    extends IllegalArgumentException(msg)

  private val SnapDir = "_snapshots"
  private val ManifestRe = "manifest-(\\d+)\\.json".r

  /** Separator for branch-qualified roots ([[branchRoot]]). A branch is an
    * independent MANIFEST CHAIN over the same table directory: its commit
    * records live under `_snapshots/refs/<name>/`, while data files and
    * metadata shards stay in the table's shared locations — so fork and
    * fast-forward publish are pure metadata (zero file copies), and every
    * Snapshots verb (commit/merge/mergeInto/delete/read/time-travel/schema
    * evolution/maintenance) works on a branch root unchanged. */
  private val RefSep = "@ref="

  /** The root string addressing branch `name` of the table at `root`. Pass
    * the result anywhere a table root is accepted. */
  def branchRoot(root: String, name: String): String = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"branch name '$name' must match [A-Za-z0-9._-]+")
    require(!root.contains(RefSep), s"'$root' is already branch-qualified")
    s"$root$RefSep$name"
  }

  /** (table directory, branch name) — branch name "" is the main chain. */
  private[engine] def splitRef(root: String): (String, String) = {
    val i = root.indexOf(RefSep)
    if (i < 0) (root, "") else (root.substring(0, i), root.substring(i + RefSep.length))
  }

  private[engine] def dataRoot(root: String): String = splitRef(root)._1

  /** Remove the table's EXISTENCE: delete the whole `_snapshots` metadata
    * area (manifest chains incl. branches, shards, checks) and nothing
    * else — data files stay on disk as unreferenced debris the caller
    * reclaims by deleting the directory. The SQL DROP TABLE primitive
    * ([[graft.streaming.SnapshotCatalog]]); also what makes a
    * half-stranded table directory reusable. */
  def dropMetadata(spark: SparkSession, root: String): Unit = {
    require(!root.contains(RefSep),
      s"dropMetadata on branch-qualified '$root' — drop the branch instead")
    fs(spark, root).delete(new Path(s"${dataRoot(root)}/$SnapDir"), true)
    ()
  }

  /** Directory holding this chain's manifest files. */
  private def refDir(root: String): String = {
    val (dir, ref) = splitRef(root)
    if (ref.isEmpty) s"$dir/$SnapDir" else s"$dir/$SnapDir/refs/$ref"
  }

  /** Every manifest chain of the table: "" (main) plus each branch. */
  private[engine] def allRefs(spark: SparkSession, root: String): Seq[String] = {
    val refsDir = new Path(s"${dataRoot(root)}/$SnapDir/refs")
    val f = fs(spark, root)
    val branches =
      if (!f.exists(refsDir)) Seq.empty[String]
      else f.listStatus(refsDir).toSeq.filter(_.isDirectory).map(_.getPath.getName)
    "" +: branches.sorted
  }

  private def fs(spark: SparkSession, root: String) =
    new Path(dataRoot(root)).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String, v: Long) =
    new Path(s"${refDir(root)}/manifest-$v.json")

  /** Latest committed version, 0 when the table has no snapshot yet. */
  def headVersion(spark: SparkSession, root: String): Long = {
    val dir = new Path(refDir(root))
    val f = fs(spark, root)
    if (!f.exists(dir)) 0L
    else
      f.listStatus(dir).toSeq
        .flatMap(st => ManifestRe.findFirstMatchIn(st.getPath.getName).map(_.group(1).toLong))
        .maxOption.getOrElse(0L)
  }

  private[engine] def readText(spark: SparkSession, root: String, p: Path): String = {
    val f = fs(spark, root)
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Read manifest v's commit record only — O(#shards), no shard I/O. The
    * right level for anything that needs version/tag/ts/schema but not the
    * file list (tag scans, time-travel version selection, append carries). */
  def manifestMeta(spark: SparkSession, root: String, v: Long): ManifestMeta = {
    val p = manifestPath(root, v)
    require(fs(spark, root).exists(p),
      s"snapshot $v does not exist at $root (vacuumed or never committed)")
    parseManifestMeta(readText(spark, root, p), p)
  }

  // shards are SHARED across the table's chains — always in the main dir
  private def shardPath(root: String, name: String) =
    new Path(s"${dataRoot(root)}/$SnapDir/$name")

  /** Process-wide shard cache (round 16). Shards are IMMUTABLE and
    * UUID-named (write-once, `overwrite=false`), so (root, name) keys one
    * content forever — a resolve that planning repeats (every scan, every
    * commit's parent read) parses each shard JSON once per process
    * instead of once per call. Bounded by total cached FILE ENTRIES (the
    * size driver), LRU-evicted; vacuumed shards age out the same way
    * (nothing can request them — their manifests are gone). */
  private object ShardCache {
    private val MaxEntries = 200000L
    private val map =
      new java.util.LinkedHashMap[(String, String), Shard](64, 0.75f, true)
    private var weight = 0L
    def get(root: String, name: String): Option[Shard] =
      synchronized(Option(map.get((root, name))))
    def put(root: String, name: String, sh: Shard): Unit = synchronized {
      val k = (root, name)
      if (!map.containsKey(k)) {
        map.put(k, sh)
        weight += math.max(1L, sh.files.size.toLong)
        val it = map.entrySet().iterator()
        while (weight > MaxEntries && it.hasNext) {
          val e = it.next()
          if (e.getKey != k) {
            weight -= math.max(1L, e.getValue.files.size.toLong)
            it.remove()
          }
        }
      }
    }
  }

  private def loadShard(spark: SparkSession, root: String, ref: ShardRef): Shard =
    ShardCache.get(root, ref.name).getOrElse {
      val (files, stats, rows, blooms, dvs) =
        parseShard(readText(spark, root, shardPath(root, ref.name)))
      val sh = Shard(ref, files, stats, rows, blooms, dvs)
      ShardCache.put(root, ref.name, sh)
      sh
    }

  /** Total recorded bytes of the files in `refs`' shards (bodies load via
    * the process cache) — the streaming byte-pacer's append-delta step: an
    * append-only commit's added files are exactly its NEW shards' files,
    * so pacing reads those bodies only, never the full manifest. A file
    * without a recorded size counts as budget-exhausting (Long.MaxValue/4,
    * saturating) — conservative, the pacer admits it alone. */
  private[graft] def shardFileBytes(
      spark: SparkSession, root: String, refs: Seq[ShardRef]): Long =
    refs.foldLeft(0L) { (acc, r) =>
      val sh = loadShard(spark, root, r)
      saturatingBytes(acc, sh.files.map(u => new Path(u).getName),
        sh.rows.iterator.map(fr => fr.file -> fr.bytes).toMap)
    }

  /** Accumulate recorded file sizes onto `acc`, saturating: a file without
    * a recorded size (pre-index shard) adds Long.MaxValue/4 — it EXHAUSTS
    * any realistic byte budget, so the pacer admits it alone; the
    * Long.MaxValue/2 clamp keeps repeated unknowns from overflowing. One
    * shared definition so the pacer's shard-delta and full-manifest
    * branches cannot diverge. */
  private[graft] def saturatingBytes(
      acc: Long, names: Iterable[String], sized: Map[String, Long]): Long =
    names.foldLeft(acc) { (t, n) =>
      val b = sized.getOrElse(n, -1L)
      math.min(Long.MaxValue / 2, t + (if (b >= 0L) b else Long.MaxValue / 4))
    }

  private def loadShards(spark: SparkSession, root: String, m: ManifestMeta): Seq[Shard] =
    m.shardRefs.map(loadShard(spark, root, _))

  private def resolve(m: ManifestMeta, shards: Seq[Shard]): Manifest = {
    // stats are recorded under PHYSICAL column names (immutable with the
    // shard files that hold them); the resolved view relabels them to the
    // schema's CURRENT logical names, so every pruning consumer
    // (readRange/readWhere/readForKeys/merge/delete/countWhere/statsRange)
    // keeps working across renames with no knowledge of the mapping.
    // Dropped columns' stats keep their physical label — no logical name
    // reaches them, so they are inert.
    val p2l: Map[String, String] = parseSchemaStr(m.schema).fields.iterator
      .map(f => physicalOf(f) -> f.name).filter(e => e._1 != e._2).toMap
    // no-range TOMBSTONES ride to their own collection: every range
    // consumer reads `stats` and must never see a tombstone's inert
    // min/max; IS NULL mining reads `tombs`
    val (tombStats, rangeStats) = shards.flatMap(_.stats).partition(_.nr)
    def relab(ss: Seq[ColStats]): Seq[ColStats] =
      if (p2l.isEmpty) ss
      else ss.map(st => p2l.get(st.col).fold(st)(l => st.copy(col = l)))
    val blooms = shards.flatMap(_.blooms)
    val relabeledBlooms =
      if (p2l.isEmpty) blooms
      else blooms.map(bl => p2l.get(bl.col).fold(bl)(l => bl.copy(col = l)))
    Manifest(m.version, shards.flatMap(_.files), m.parent,
      relab(rangeStats), m.tag, m.ts, m.schema, shards.flatMap(_.rows),
      relabeledBlooms, shards.flatMap(_.dvs),
      m.clustering.map(c => c.copy(cols = c.cols.map(cc => p2l.getOrElse(cc, cc)))),
      tombs = relab(tombStats))
  }

  /** Column-mapping metadata key: a field whose on-disk (PHYSICAL) column
    * name differs from its current logical name carries it here, inside the
    * recorded schema json. Physical names are assigned once (at the column's
    * first introduction) and never change — [[renameColumn]] moves only the
    * logical name, so files written before the rename stay readable with no
    * rewrite, the Delta-style column-mapping idea. */
  private val PhysicalKey = "graft.physical"

  private[graft] def physicalOf(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey) else f.name

  /** THE exact-double rule, in one place:
    * the canonical-double stat value `d` converted back to a CATALYST value
    * of column type `dt`, iff value→double is provably INJECTIVE over the
    * compared values — so the conversion names the unique original, and a
    * consumer that treats it as exact (full acceptance feeding metadata
    * deletes, aggregate answers, top-n thresholds) can never collapse two
    * distinct values onto one double (long 2^53+1 and 2^53 share a double:
    * `id = 9007199254740993L` must not full-accept a file of ...992s).
    * Arms: int/date/short/byte always exact; long and timestamps (exact
    * epoch MICROS since round 17) per value strictly inside ±2^53 (a long
    * beyond rounds to a double of magnitude ≥ 2^53, so the per-VALUE check
    * suffices); decimals when the TYPE's precision ≤ 15 (doubles round-trip
    * 15 significant decimal digits, so the map is injective per type —
    * `Double.toString`'s shortest representation recovers the value, and a
    * scale the type can't hold proves `d` is no image at all → None);
    * float/double never (NaN-blind stats); strings have no double canon.
    * Callers: [[graft.streaming.SnapshotSourceProvider]]'s aggregate
    * pushdown, [[StatsPredicate]]'s acceptance and rejection at a bound,
    * and [[FilterPrune]]'s top-n threshold emission. */
  private[graft] def exactValue(
      dt: org.apache.spark.sql.types.DataType, d: Double): Option[Any] = {
    import org.apache.spark.sql.types._
    dt match {
      // range-checked before narrowing: every in-range value is exact in a
      // double, but a stray out-of-range double must decline, never wrap
      case IntegerType if d.isWhole && d >= Int.MinValue && d <= Int.MaxValue =>
        Some(d.toInt)
      case DateType if d.isWhole && d >= Int.MinValue && d <= Int.MaxValue =>
        Some(d.toInt) // catalyst days
      case ShortType if d.isWhole && d >= Short.MinValue && d <= Short.MaxValue =>
        Some(d.toShort)
      case ByteType if d.isWhole && d >= Byte.MinValue && d <= Byte.MaxValue =>
        Some(d.toByte)
      case LongType if d.isWhole && math.abs(d) < 9007199254740992.0 => // 2^53
        Some(d.toLong)
      case TimestampType | TimestampNTZType
          if d.isWhole && math.abs(d) < 9007199254740992.0 =>
        Some(d.toLong) // catalyst epoch micros
      case dec: DecimalType
          if dec.precision <= 15 && java.lang.Double.isFinite(d) =>
        try {
          val bd = java.math.BigDecimal.valueOf(d).setScale(dec.scale)
          val v = org.apache.spark.sql.types.Decimal(bd)
          if (v.changePrecision(dec.precision, dec.scale)) Some(v) else None
        } catch { case _: ArithmeticException => None }
      case _ => None
    }
  }

  /** logical→physical renames (non-identity entries only). */
  private[graft] def logicalToPhysical(s: StructType): Map[String, String] =
    s.fields.iterator.map(f => f.name -> physicalOf(f)).filter(e => e._1 != e._2).toMap

  /** Read manifest v fully resolved (throws with a clear message when v was
    * never committed or has been vacuumed away). */
  def manifest(spark: SparkSession, root: String, v: Long): Manifest = {
    val meta = manifestMeta(spark, root, v)
    resolve(meta, loadShards(spark, root, meta))
  }

  /** Whether version v's manifest is still retained (not vacuumed). */
  private[graft] def manifestExists(spark: SparkSession, root: String, v: Long): Boolean =
    fs(spark, root).exists(manifestPath(root, v))

  private def retainedVersions(spark: SparkSession, root: String): Seq[Long] = {
    val dir = new Path(refDir(root))
    val f = fs(spark, root)
    if (!f.exists(dir)) Seq.empty
    else
      f.listStatus(dir).toSeq
        .flatMap(st => ManifestRe.findFirstMatchIn(st.getPath.getName).map(_.group(1).toLong))
        .sorted
  }

  /** All retained commit records, oldest first — metadata only. */
  def historyMeta(spark: SparkSession, root: String): Seq[ManifestMeta] =
    retainedVersions(spark, root).map(v => manifestMeta(spark, root, v))

  /** All retained manifests resolved, oldest first. Shards shared across
    * versions load once (by name) however many manifests reference them. */
  def history(spark: SparkSession, root: String): Seq[Manifest] = {
    val cache = scala.collection.mutable.HashMap.empty[String, Shard]
    historyMeta(spark, root).map { m =>
      resolve(m, m.shardRefs.map(r =>
        cache.getOrElseUpdate(r.name, loadShard(spark, root, r))))
    }
  }

  /** Commit `df` as the next snapshot. `append=true` carries the parent
    * manifest's files forward (the new version = old data + this batch);
    * `append=false` is a logical overwrite (old files stay on disk for
    * pinned readers / time travel until `vacuum`). Returns the committed
    * version. Data lands under an unguessable per-commit directory first,
    * so a losing racer's files never collide with the winner's and an
    * aborted write leaves nothing a manifest could ever reference. */
  def commit(
      df: DataFrame,
      root: String,
      append: Boolean = false,
      statsCols: Seq[String] = Seq.empty,
      tag: String = "",
      requireHead: Long = -1L,
      bloomCols: Seq[String] = Seq.empty,
      clusterBy: Option[(Seq[String], Int)] = None,
      clusterSorted: Boolean = false): Long = {
    // the optimize: prefix is how rebase validation RECOGNIZES provably
    // row-preserving layout rewrites — only the internal rewrite committer
    // ([[publishRewriteOutput]]) may stamp it; a caller-tagged overwrite
    // wearing it would launder arbitrary content changes past racing
    // merges and branch publishes as "row-preserving"
    require(!tag.startsWith(OptimizeTag),
      s"commit tags may not start with the reserved '$OptimizeTag' prefix " +
        "(internal marker for row-preserving layout rewrites)")
    val spark = df.sparkSession
    val base = appendBase(spark, root, append)
    val AppendMapping(toPhys, assigned, inhStatsP, inhBloomsP) =
      appendMapping(base, df.schema)
    // hash-clustered layout (see [[Clustering]]): validate the spec against
    // the head BEFORE the write job — an append may only cluster onto a
    // head already clustered by the same (physical column, bucket count),
    // or onto an empty table; anything else would publish a version whose
    // file set is not bucket-pure, so it fails loudly here instead
    val clusterSpec = clusterBy.map { case (cs, n) =>
      require(n > 0, s"clusterBy bucket count must be positive, got $n")
      require(cs.nonEmpty, "clusterBy needs at least one column")
      cs.foreach { c =>
        require(df.columns.contains(c),
          s"clusterBy column '$c' is not in the batch (${df.columns.mkString(", ")})")
        val t = df.schema(c).dataType
        require(ClusterableTypes.contains(t),
          s"clusterBy column '$c' has type $t — hash clustering supports " +
            ClusterableTypes.mkString(", "))
      }
      Clustering(cs.map(c => toPhys.getOrElse(c, c)), n, sorted = clusterSorted)
    }
    if (clusterSpec.isDefined) base.foreach { m0 =>
      val hc = m0.clustering
      // ConcurrentCommitException (not a bare require): the mismatch is
      // indistinguishable from a racing spec-dropping commit, and the
      // publish loop's re-validation throws exactly this type for the
      // same condition — callers (SnapshotSink) get ONE failure shape
      // to convert into an actionable terminal error
      if (hc != clusterSpec) throw new ConcurrentCommitException(
        s"requirement failed: clustered append onto $root requires the " +
          s"head to carry the same clustering spec; head has " +
          s"${hc.getOrElse("none")}, batch wants ${clusterSpec.get} — " +
          "overwrite (append=false) to re-cluster")
    }
    val (written, newStats, newRows, newBlooms) =
      writeBatch(df, root, statsCols, toPhys, bloomCols, clusterSpec,
        statsPhysExtra = inhStatsP, bloomPhysExtra = inhBloomsP)
    val newRef = writeShard(spark, root, written, newStats, newRows, newBlooms)
    publishMeta(spark, root, tag, requireHead, clustering = head =>
      // an unclustered append onto a clustered head adds bucket-impure
      // files: the spec drops (conservative-correct). A clustered append
      // re-validates against the CURRENT head inside the publish loop —
      // the pre-write check above may have raced an unclustered commit.
      if (clusterSpec.isEmpty) None
      else if (!append || head.isEmpty) clusterSpec
      else if (head.flatMap(_.clustering) == clusterSpec) clusterSpec
      else throw new ConcurrentCommitException(
        s"requirement failed: concurrent commit at $root changed the " +
          "clustering spec beneath this clustered append"),
      indexed = head => {
        val mineS = statsCols.map(c => toPhys.getOrElse(c, c))
        val mineB = bloomCols.map(c => toPhys.getOrElse(c, c))
        // overwrite restarts the declaration; append unions with the
        // head's (an undeclared head stays None — fallback resolve)
        if (!append || head.isEmpty) Some((mineS, mineB))
        else head.flatMap(_.indexed).map { case (s, b) =>
          ((s ++ mineS).distinct, (b ++ mineB).distinct)
        }
      }) { head =>
      val parent = if (append) head else None
      val refs = parent.map(_.shardRefs).getOrElse(Seq.empty) :+ newRef
      (refs, mergedSchemaJson(parent.map(_.schema), df.schema, assigned))
    }
  }

  /** Multi-batch commit: stage N independent same-schema batches as
    * CONCURRENT write jobs (each batch written exactly as [[commit]] would
    * write it — own commit dir, stats, shard), then publish ONE manifest
    * referencing all of them. The per-key ingest loops (one commit per
    * priority/band so every file is single-key and the manifest can answer
    * grouped aggregates) were paying N sequential job round-trips plus N
    * manifest publishes for work with no data dependency; overlapping the
    * staging back-fills the scheduler (guide: overlap independent jobs)
    * and the single publish removes N-1 metadata round-trips. File
    * CONTENT and per-file stats are identical to the sequential loop —
    * only version count (1, not N) and wall-clock change.
    *
    * Scope (internal, not a declared surface): same schema across batches
    * (enforced), no clustering, optional stats/bloom columns shared by all
    * batches. Batches whose plans are expensive stay lazy until their
    * staging thread runs them. */
  private[graft] def commitAll(
      batches: Seq[DataFrame],
      root: String,
      append: Boolean = false,
      statsCols: Seq[String] = Seq.empty,
      tag: String = "",
      bloomCols: Seq[String] = Seq.empty,
      maxConcurrent: Int = 4): Long = {
    require(batches.nonEmpty, "commitAll needs at least one batch")
    require(!tag.startsWith(OptimizeTag),
      s"commit tags may not start with the reserved '$OptimizeTag' prefix")
    val schema0 = batches.head.schema
    batches.foreach(b => require(b.schema == schema0,
      "commitAll batches must share one schema — evolving batches commit sequentially"))
    val spark = batches.head.sparkSession
    // logical→physical mapping + inherited index declarations exactly as
    // [[commit]], computed ONCE from the head all batches land on
    val AppendMapping(toPhys, assigned, inhStatsP, inhBloomsP) =
      appendMapping(appendBase(spark, root, append), schema0)
    // concurrent staging: a small pool is plenty — the point is to back-fill
    // the scheduler during each job's tail and overlap the driver-side
    // footer/shard work, not to saturate the cluster with N full jobs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(maxConcurrent, batches.size)))
    val refs: Seq[ShardRef] =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        val futs = batches.map { b =>
          scala.concurrent.Future {
            val (written, st, rows, blooms) =
              writeBatch(b, root, statsCols, toPhys, bloomCols, None,
                statsPhysExtra = inhStatsP, bloomPhysExtra = inhBloomsP)
            writeShard(spark, root, written, st, rows, blooms)
          }
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futs),
          scala.concurrent.duration.Duration.Inf)
      } finally pool.shutdown()
    publishMeta(spark, root, tag, indexed = head => {
      val mineS = statsCols.map(c => toPhys.getOrElse(c, c))
      val mineB = bloomCols.map(c => toPhys.getOrElse(c, c))
      if (!append || head.isEmpty) Some((mineS, mineB))
      else head.flatMap(_.indexed).map { case (s, b) =>
        ((s ++ mineS).distinct, (b ++ mineB).distinct)
      }
    }) { head =>
      val parent = if (append) head else None
      val parentRefs = parent.map(_.shardRefs).getOrElse(Seq.empty)
      (parentRefs ++ refs, mergedSchemaJson(parent.map(_.schema), schema0, assigned))
    }
  }

  /** The head commit record an append lands on, read ONCE before the write
    * (None for an overwrite or an empty table). Everything decided before
    * the write — column mapping, clustering check, inherited index — comes
    * from this one read; the publish loop re-reads and re-validates the
    * head regardless. */
  private def appendBase(spark: SparkSession, root: String,
      append: Boolean): Option[ManifestMeta] =
    if (!append) None
    else {
      val v = headVersion(spark, root)
      if (v == 0L) None else Some(manifestMeta(spark, root, v))
    }

  /** [[appendMapping]]'s result for one batch: the logical→physical names
    * it stores under, the physical names freshly assigned to columns it
    * introduces, and the PHYSICAL (stats, bloom) columns it inherits from
    * the head's index declaration. */
  private final case class AppendMapping(toPhys: Map[String, String],
      assigned: Map[String, String], inhStatsP: Seq[String], inhBloomsP: Seq[String])

  /** Column-mapping translation for appends onto an evolved table: the
    * batch arrives with LOGICAL names, files store PHYSICAL ones. An
    * overwrite (`base = None`) starts a fresh schema (physical = logical) —
    * its files don't coexist with prior generations. Physical names are
    * rename-stable, so the pre-write head read cannot go stale against the
    * optimistic publish loop (concurrent commits only ADD columns).
    *
    * An APPEND also maintains the head's declared index even when the
    * caller passes no statsCols — the same inheritance the streaming sink
    * has always had ([[appendFiles]]); without it one append after a
    * [[reindexStats]] (or any indexed ingest driven by a stats-less writer)
    * leaves a stat-less file that declines every metadata answer
    * table-wide. Declared names are PHYSICAL and ride into writeBatch as
    * its pre-mapped `statsPhysExtra` — never back through the
    * logical→physical mapping (a renamed-away-then-re-added logical name
    * would collide and redirect them). Only columns the batch actually
    * carries are collected (schema evolution may omit some — their files
    * simply record no entry, conservative). */
  private def appendMapping(base: Option[ManifestMeta], batch: StructType): AppendMapping =
    base.fold(AppendMapping(Map.empty, Map.empty, Seq.empty, Seq.empty)) { m0 =>
      val ps = parseSchemaStr(m0.schema)
      val fresh = freshPhysicals(ps, m0.retired, batch)
      val toPhys = logicalToPhysical(ps) ++ fresh
      val batchPhys = batch.fieldNames.map(c => toPhys.getOrElse(c, c)).toSet
      val (ds, db) = m0.indexed.getOrElse((Seq.empty[String], Seq.empty[String]))
      AppendMapping(toPhys, fresh, ds.filter(batchPhys), db.filter(batchPhys))
    }

  /** Key types [[commit]]'s `clusterBy` accepts: exactly those whose
    * murmur3 bucket mapping the DSv2 `graft.bucket` catalog function
    * reproduces ([[graft.streaming.SnapshotCatalog]]) — the writer
    * (Spark's `HashPartitioning`) and the storage-partitioned-join
    * machinery must agree on key→bucket or a co-partitioned join would
    * silently drop matches. */
  private[graft] val ClusterableTypes: Set[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Set(IntegerType, LongType, StringType, DateType, TimestampType, TimestampNTZType)
  }

  /** NON-ADDITIVE schema evolution, part 1: rename a column as a
    * METADATA-ONLY commit. The files are untouched — the field keeps its
    * immutable PHYSICAL (on-disk) name, recorded in the schema's column
    * mapping; only the logical name moves. Every file generation keeps
    * reading (old and new files store the same physical column), stats
    * pruning keeps working (the resolve-time relabel maps the recorded
    * physical stats to the new logical name), later appends/merges write
    * the physical name, and time travel to a pre-rename version surfaces
    * the OLD name — schema history is history too. At 100 TB this is the
    * only acceptable rename: the rewrite alternative costs a full table
    * pass for a name. Fenced against concurrent commits (requireHead):
    * a rename never clobbers a racing writer's schema merge. */
  def renameColumn(spark: SparkSession, root: String, from: String, to: String): Long = {
    val headV = headVersion(spark, root)
    require(headV > 0, s"no snapshot committed at $root yet")
    val meta = manifestMeta(spark, root, headV)
    val s = parseSchemaStr(meta.schema)
    require(s.fieldNames.contains(from), s"no column '$from' in $root")
    require(!s.fieldNames.contains(to), s"column '$to' already exists in $root")
    require(!Checks.referenced(spark, Checks.list(spark, root)).contains(from),
      s"cannot rename '$from': a CHECK constraint references it — drop the check first")
    val renamed = StructType(s.fields.map { f =>
      if (f.name != from) f
      else f.copy(name = to, metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putString(PhysicalKey, physicalOf(f)).build())
    })
    // metadata-only: files untouched, clustering carries (its col is the
    // rename-stable PHYSICAL name, so renaming the cluster key is fine)
    publishMeta(spark, root, tag = "", requireHead = headV,
      clustering = h => h.flatMap(_.clustering)) { head =>
      val h = head.getOrElse(sys.error("rename base vanished"))
      (h.shardRefs, renamed.json)
    }
  }

  /** NON-ADDITIVE schema evolution, part 3: WIDEN a column's type as a
    * METADATA-ONLY commit — int→long, float→double, decimal growth. No
    * file is rewritten; the recorded schema simply asks for the wider
    * type and BOTH readers (the native [[ManifestFileIndex]] scan and the
    * DSv2 vectorized reader, which requests the widened Catalyst type
    * against the file's physical column) widen narrow-generation files
    * at decode time via Spark 4's parquet widening updaters. Later
    * appends write the wide type; mixed generations coexist under one
    * logical schema, the same column-mapping trick renames ride.
    *
    * Only provably VALUE-PRESERVING promotions are accepted (the check
    * is [[widenOk]]); everything else keeps refusing loudly. Widening
    * the CLUSTER KEY refuses: bucket ids are hashes of the value's
    * runtime type, so int-hashed old files and long-hashed new writes
    * would disagree on which bucket a key lives in — re-cluster instead. */
  def widenColumn(
      spark: SparkSession,
      root: String,
      name: String,
      to: org.apache.spark.sql.types.DataType): Long = {
    val headV = headVersion(spark, root)
    require(headV > 0, s"no snapshot committed at $root yet")
    val meta = manifestMeta(spark, root, headV)
    val s = parseSchemaStr(meta.schema)
    val field = s.fields.find(_.name == name)
      .getOrElse(sys.error(s"no column '$name' in $root"))
    require(widenOk(field.dataType, to),
      s"ALTER COLUMN $name TYPE: ${field.dataType.simpleString} -> " +
        s"${to.simpleString} is not a value-preserving widening (supported: " +
        "byte/short/int -> wider integral, int -> double, float -> double, " +
        "integral -> decimal with room, decimal(p,s) -> decimal(p',s') with " +
        "p'-s' >= p-s and s' >= s)")
    // the meta's clustering cols are the rename-stable PHYSICAL names
    val clusterKeys = meta.clustering.toSeq.flatMap(_.cols)
    require(!clusterKeys.contains(name) && !clusterKeys.contains(physicalOf(field)),
      s"cannot widen cluster key '$name': bucket ids hash the runtime type, " +
        "so old and new generations would disagree on key placement — " +
        "re-cluster (compact_clustered) after widening elsewhere, or first " +
        "commit an unclustered overwrite")
    val widened = StructType(s.fields.map(f =>
      if (f.name != name) f else f.copy(dataType = to)))
    publishMeta(spark, root, tag = "", requireHead = headV,
      clustering = h => h.flatMap(_.clustering)) { head =>
      val h = head.getOrElse(sys.error("widen base vanished"))
      (h.shardRefs, widened.json)
    }
  }

  /** Provably value-preserving type promotions (every old value maps to
    * itself in the new type, bit-exactly). Long→double is NOT one (53-bit
    * mantissa); neither is any narrowing or scale shrink. */
  private[graft] def widenOk(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    def intDigits(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(3); case ShortType => Some(5)
      case IntegerType => Some(10); case LongType => Some(19); case _ => None
    }
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.precision - t.scale >= f.precision - f.scale && t.scale >= f.scale
      case (f @ (ByteType | ShortType | IntegerType | LongType), t: DecimalType) =>
        intDigits(f).exists(d => t.precision - t.scale >= d)
      case _ => false
    }
  }

  /** NON-ADDITIVE schema evolution, part 2: drop a column as a
    * METADATA-ONLY commit. Files keep the bytes (pinned readers of older
    * versions still see the column; vacuum-driven erasure applies as
    * usual); the head schema simply stops requesting it. The dropped
    * field's PHYSICAL name is recorded as RETIRED in the manifest: a later
    * column with the same name gets a fresh physical name, so the old
    * files' values can never resurrect into it — re-add-after-drop reads
    * null for pre-drop rows, the only sound answer. */
  def dropColumn(spark: SparkSession, root: String, name: String): Long = {
    val headV = headVersion(spark, root)
    require(headV > 0, s"no snapshot committed at $root yet")
    val meta = manifestMeta(spark, root, headV)
    val s = parseSchemaStr(meta.schema)
    val field = s.fields.find(_.name == name)
      .getOrElse(sys.error(s"no column '$name' in $root"))
    require(s.fields.length > 1, s"cannot drop the last column of $root")
    require(!Checks.referenced(spark, Checks.list(spark, root)).contains(name),
      s"cannot drop '$name': a CHECK constraint references it — drop the check first")
    val remaining = StructType(s.fields.filterNot(_.name == name))
    // metadata-only: clustering carries — unless the dropped column IS the
    // cluster key, whose spec then names a column no schema surfaces
    publishMeta(spark, root, tag = "", requireHead = headV,
      retiredOverride = Some(meta.retired :+ physicalOf(field)),
      clustering = h =>
        h.flatMap(_.clustering).filterNot(_.cols.contains(physicalOf(field)))) { head =>
      val h = head.getOrElse(sys.error("drop base vanished"))
      (h.shardRefs, remaining.json)
    }
  }

  /** ADDITIVE schema evolution as an explicit METADATA-ONLY commit: the
    * new column is appended (nullable) to the recorded schema and no file
    * is touched — every existing row reads null for it, the same
    * schema-merging semantics an additive append already has. The one
    * subtlety is physical naming: when the logical name collides with a
    * RETIRED (dropped) column's bytes still sitting in old files, or with
    * a live column renamed away from it, the new column stores under a
    * fresh suffixed physical name so those old values can never
    * resurrect into it. At 100 TB ALTER TABLE ADD COLUMNS must be O(1)
    * metadata, never a rewrite. */
  def addColumn(
      spark: SparkSession,
      root: String,
      name: String,
      dataType: org.apache.spark.sql.types.DataType): Long = {
    val headV = headVersion(spark, root)
    require(headV > 0, s"no snapshot committed at $root yet")
    val meta = manifestMeta(spark, root, headV)
    val s = parseSchemaStr(meta.schema)
    require(!s.fieldNames.contains(name), s"column '$name' already exists in $root")
    val taken = meta.retired.toSet ++ s.fields.map(physicalOf).toSet
    val base = org.apache.spark.sql.types.StructField(name, dataType, nullable = true)
    val field =
      if (!taken.contains(name)) base
      else base.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .putString(PhysicalKey,
          s"${name}__${java.util.UUID.randomUUID().toString.replace("-", "").take(8)}")
        .build())
    publishMeta(spark, root, tag = "", requireHead = headV,
      clustering = h => h.flatMap(_.clustering)) { head =>
      val h = head.getOrElse(sys.error("add-column base vanished"))
      (h.shardRefs, StructType(s.fields :+ field).json)
    }
  }

  /** TRUNCATE: remove every row as a METADATA-ONLY commit — the new
    * version references zero shards while keeping the head's schema,
    * retired names, and clustering spec (truncation empties the table,
    * it does not un-declare its layout). Old versions stay
    * time-travelable ([[vacuum]] owns erasure, [[restore]] undoes). The
    * SQL TRUNCATE TABLE / unconditioned DELETE shape: O(1) metadata at
    * any table size, vs the predicate path's full mark-and-vector scan. */
  def truncate(spark: SparkSession, root: String): Long = {
    val headV = headVersion(spark, root)
    require(headV > 0, s"no snapshot committed at $root yet")
    publishMeta(spark, root, tag = "", requireHead = headV,
      clustering = h => h.flatMap(_.clustering)) { head =>
      val h = head.getOrElse(sys.error("truncate base vanished"))
      (Seq.empty, h.schema)
    }
  }

  /** IDEMPOTENT file-level append — the commit primitive behind the DSv2
    * STREAMING write ([[graft.streaming]]): `newFiles` are already staged
    * under [[newStagingDir]] (PHYSICAL column names) by executor-side
    * writers; this publishes them as one append commit tagged `tag`. A
    * retained version already carrying the tag means a REPLAYED epoch —
    * the staged duplicates are deleted and nothing publishes
    * (exactly-once in effect; same contract as [[commitIfAbsent]]).
    * Appends are conflict-free, so the publish retries past concurrent
    * committers instead of fencing. The new files are indexed under the
    * same physical columns the head indexes; the clustering spec drops
    * (a streamed batch is not provably bucket-pure — the clustered
    * ingest path stays [[graft.streaming.SnapshotSink]]). */
  private[graft] def appendFiles(
      spark: SparkSession,
      root: String,
      newFiles: Seq[String],
      tag: String,
      schemaIfNew: StructType): Option[Long] = {
    require(tag.nonEmpty, "idempotency tag must be non-empty")
    if (historyMeta(spark, root).exists(_.tag == tag)) {
      if (newFiles.nonEmpty)
        fs(spark, root).delete(new Path(newFiles.head).getParent, true)
      return None
    }
    val headV = headVersion(spark, root)
    // O(1) from the head RECORD when declared; an undeclared head (a
    // converted table's first version) pays the full shard resolve once
    val (statsP, bloomP) =
      if (headV == 0) (Seq.empty[String], Seq.empty[String])
      else manifestMeta(spark, root, headV).indexed.getOrElse {
        val m = resolve(manifestMeta(spark, root, headV),
          loadShards(spark, root, manifestMeta(spark, root, headV)))
        (m.stats.map(_.col).distinct, m.blooms.map(_.col).distinct)
      }
    val (stats, rows) =
      if (newFiles.isEmpty) (Seq.empty[ColStats], Seq.empty[FileRows])
      else statsFromFooters(spark, newFiles, statsP)
        .getOrElse(collectStats(spark, newFiles, statsP))
    val blooms =
      if (bloomP.isEmpty || newFiles.isEmpty) Seq.empty[FileBloom]
      else {
        val logical = parseSchemaStr(manifestMeta(spark, root, headV).schema)
        collectBlooms(spark, newFiles, bloomP, logical, logicalToPhysical(logical),
          if (rows.nonEmpty) rows else rowsFromFooters(spark, newFiles))
      }
    val newRef =
      if (newFiles.isEmpty) None
      else Some(writeShard(spark, root, newFiles, stats, rows, blooms))
    Some(publishMeta(spark, root, tag,
      // carry the head's declaration; an undeclared head gets
      // BACKFILLED from the resolve this trigger already paid, and a
      // fresh table records its (empty) truth — either way the NEXT
      // trigger reads it O(1)
      indexed = h => h.flatMap(_.indexed).orElse(Some((statsP, bloomP)))) { head =>
      // schema: the staged files carry the head's physical schema (the
      // writer factory derived it from the head) — keep it; a FRESH
      // table records the writer's logical schema (no mapping yet)
      (head.map(_.shardRefs).getOrElse(Seq.empty) ++ newRef,
        head.fold(schemaIfNew.json)(_.schema))
    })
  }

  /** A fresh unguessable staging directory under the table's data area —
    * where a DSv2 executor-side write stages files before
    * [[replaceFiles]] publishes them (nothing references the directory
    * until then, so an aborted job leaves only unreachable bytes for
    * [[vacuum]]). */
  private[graft] def newStagingDir(root: String): String =
    s"${dataRoot(root)}/data/c-${java.util.UUID.randomUUID().toString.take(8)}"

  /** COPY-ON-WRITE file replacement — the commit primitive behind SQL
    * UPDATE / MERGE / rewriting DELETE ([[graft.streaming]]'s group-based
    * row-level operations): atomically swap `removed` (files a row-level
    * scan read, whose surviving+updated rows were rewritten) for
    * `newFiles` (already staged under [[newStagingDir]], PHYSICAL column
    * names). Everything the operation did not touch carries by shard
    * REFERENCE — metadata cost is O(touched), never O(table).
    *
    * Guarantees:
    *  - `requireHead` fence: the publish aborts loudly if any commit
    *    landed since `expectedHead` (the version the scan read) — a
    *    concurrent writer can never be silently clobbered; the caller
    *    recomputes and retries.
    *  - removed files retire with ALL their metadata (stats, counts,
    *    blooms, deletion vectors) via the shared shard surgery; the new
    *    files are indexed under the same physical columns the head
    *    indexes, so pruning strength survives the rewrite.
    *  - CHECK constraints validate the staged files before anything
    *    references them (UPDATE/MERGE can manufacture violating rows).
    *  - the clustering spec DROPS (default-conservative): a rewritten
    *    file is not provably bucket-pure; `compactClustered` restores. */
  private[graft] def replaceFiles(
      spark: SparkSession,
      root: String,
      expectedHead: Long,
      removed: Set[String],
      newFiles: Seq[String],
      tag: String = ""): Long = {
    require(expectedHead > 0, s"replaceFiles needs a committed base at $root")
    val meta = manifestMeta(spark, root, expectedHead)
    val shards = loadShards(spark, root, meta)
    val m = resolve(meta, shards)
    val fileSet = m.files.toSet
    require(removed.subsetOf(fileSet),
      s"replaceFiles: ${(removed -- fileSet).take(3).mkString(", ")} not in " +
        s"$root v$expectedHead — the scanned state has moved")
    val logical = parseSchema(m)
    val toPhys = logicalToPhysical(logical)
    // validate staged rows against table CHECKs before they become
    // reachable (rules speak logical names; files store physical)
    val rules = Checks.list(spark, root)
    if (rules.nonEmpty && newFiles.nonEmpty) {
      val staged0 = spark.read.parquet(newFiles: _*)
      val toLogical = toPhys.map(_.swap)
      val staged = staged0.select(staged0.columns.toSeq.map(c =>
        org.apache.spark.sql.functions.col(c).as(toLogical.getOrElse(c, c))): _*)
      Checks.findViolation(staged, rules, Some(logical)).foreach { case (rname, cnt) =>
        fs(spark, root).delete(new Path(newFiles.head).getParent, true)
        throw new IllegalArgumentException(
          s"check constraint violation rewriting $root: '$rname' ($cnt rows)")
      }
    }
    // index replacements under the physical columns the head indexes
    val statsP = m.stats.map(_.col).distinct
    val bloomP = m.blooms.map(_.col).distinct
    val (stats, rows) =
      if (newFiles.isEmpty) (Seq.empty[ColStats], Seq.empty[FileRows])
      else statsFromFooters(spark, newFiles, statsP)
        .getOrElse(collectStats(spark, newFiles, statsP))
    val blooms =
      if (bloomP.isEmpty || newFiles.isEmpty) Seq.empty[FileBloom]
      else collectBlooms(spark, newFiles, bloomP, logical, toPhys,
        if (rows.nonEmpty) rows else rowsFromFooters(spark, newFiles))
    val newRef =
      if (newFiles.isEmpty) None
      else Some(writeShard(spark, root, newFiles, stats, rows, blooms))
    publishMeta(spark, root, tag, requireHead = expectedHead) { head =>
      val h = head.getOrElse(sys.error("replace base vanished"))
      (carryUntouched(spark, root, shards, removed) ++ newRef, h.schema)
    }
  }

  /** ZERO-COPY adoption of an existing plain-parquet directory as a
    * snapshot table (the CONVERT-in-place shape): version 1 is published
    * referencing the directory's existing files — no row is rewritten, no
    * byte is copied. At 100 TB this is the only viable migration path onto
    * the snapshot layer: a copy-based import would cost a full table
    * rewrite before the first transactional commit could land. The one
    * scan this pays is per-file min/max collection for `statsCols` (one
    * distributed aggregation row per file — and only if stats are asked
    * for), after which every snapshot operation works unchanged: appends
    * land beside the adopted files under `data/`, merge/delete rewrite
    * only the files their keys touch (adopted files carry by manifest
    * reference), time travel to v1 is the original directory, and
    * [[vacuum]] takes ownership — an adopted file is deleted like any
    * other once no retained manifest references it. The directory keeps
    * serving plain `spark.read.parquet(root)` readers until the first
    * overwrite/merge commit (the adopted files are untouched in place;
    * `_snapshots/` is metadata beside them, underscore-prefixed so
    * FileIndex listings skip it) — cutover can be gradual.
    *
    * Hive-partitioned layouts (`k=v` path components) are REFUSED loudly:
    * their partition values live in paths, not file contents, so adopting
    * the bare files would silently drop those columns. Materialize the
    * partition columns into the data (one rewrite) or keep the directory
    * on [[graft.queries.Lake]]'s hive reader. Duplicate basenames are
    * likewise refused when stats are requested — [[ColStats]] keys by
    * basename (unique by construction for Spark-written part files). */
  def convertInPlace(
      spark: SparkSession,
      root: String,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Long = {
    require(splitRef(root)._2.isEmpty,
      "convertInPlace adopts a plain directory as a table's MAIN chain — fork a branch after")
    require(headVersion(spark, root) == 0,
      s"$root already has a snapshot history — convertInPlace adopts plain directories only")
    val f = fs(spark, root)
    def walk(p: Path): Seq[String] =
      f.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Seq.empty
        else if (st.isDirectory) {
          require(!name.contains("="),
            s"$root looks hive-partitioned ('$name'): partition values live in paths, " +
              "not files — materialize them into the data before converting")
          walk(st.getPath)
        } else if (name.endsWith(".parquet")) Seq(st.getPath.toString)
        else Seq.empty
      }
    val files = walk(new Path(root)).sorted
    require(files.nonEmpty, s"no parquet files under $root to convert")
    require(statsCols.isEmpty ||
      files.map(new Path(_).getName).distinct.size == files.size,
      s"duplicate basenames under $root — per-file stats key by basename; " +
        "convert without statsCols or deduplicate the layout first")
    val schema = spark.read.parquet(files: _*).schema
    val (adoptStats, adoptRows) = collectStats(spark, files, statsCols)
    val adoptBlooms =
      if (bloomCols.isEmpty) Seq.empty
      else {
        val rowsForEst =
          if (adoptRows.nonEmpty) adoptRows else rowsFromFooters(spark, files)
        collectBlooms(spark, files, bloomCols, schema, Map.empty, rowsForEst)
      }
    val ref = writeShard(spark, root, files, adoptStats, adoptRows, adoptBlooms)
    publishMeta(spark, root, tag = "", requireHead = 0L) { _ =>
      (Seq(ref), schema.json)
    }
  }

  private def mergedSchemaJson(
      parentSchema: Option[String],
      batch: StructType,
      assigned: Map[String, String] = Map.empty): String =
    mergeSchemas(parentSchema.map(parseSchemaStr), batch, assigned).json

  /** Fresh PHYSICAL names for batch columns whose default physical (their
    * own name) is already taken — by a retired (dropped) column whose data
    * still sits in old files, or by a live column renamed away from it.
    * Without this, re-adding a dropped column would resurrect the old
    * files' values into it; with it, the new column stores under a unique
    * suffix and old files correctly surface null. Assigned BEFORE the
    * write (the files must store the fresh name) and passed through to the
    * schema merge so the metadata records the same mapping. */
  private def freshPhysicals(
      parent: StructType,
      retired: Seq[String],
      batch: StructType): Map[String, String] = {
    val taken = retired.toSet ++ parent.fields.map(physicalOf)
    val existing = parent.fieldNames.toSet
    batch.fields.iterator.map(_.name)
      .filterNot(existing.contains)
      .filter(taken.contains)
      .map(n => n ->
        s"${n}__${java.util.UUID.randomUUID().toString.replace("-", "").take(8)}")
      .toMap
  }

  /** Write one immutable batch under an unguessable commit dir; return its
    * file URIs + collected stats. Nothing references these files until a
    * manifest publishes them. The files go straight to their final names
    * through the engine's own parquet writer ([[BatchFiles]]): one task per
    * partition, no output committer, and no Spark job at all for a
    * driver-resident batch. The file list is what the writer reported,
    * never a listing of the commit dir (which may hold a failed task
    * attempt's partial file). Any failure before this returns deletes the
    * commit dir: readers never see a half-admitted batch, and a fixed retry
    * is a plain re-run. */
  private def writeBatch(
      df: DataFrame,
      root: String,
      statsCols: Seq[String],
      toPhys: Map[String, String] = Map.empty,
      bloomCols: Seq[String] = Seq.empty,
      cluster: Option[Clustering] = None,
      // index names that are ALREADY PHYSICAL (a head's inherited
      // declaration) — unioned AFTER the logical→physical mapping, never
      // through it: re-mapping a physical name that collides with a
      // renamed-away-then-re-added logical name would silently record
      // stats under the wrong column
      statsPhysExtra: Seq[String] = Seq.empty,
      bloomPhysExtra: Seq[String] = Seq.empty): (Seq[String], Seq[ColStats], Seq[FileRows], Seq[FileBloom]) = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val spark = df.sparkSession
    val f = fs(spark, root)
    val commitId = java.util.UUID.randomUUID().toString.take(8)
    val dataDir = f.makeQualified(new Path(s"${dataRoot(root)}/data/c-$commitId")).toString
    // table CHECK constraints are counted in the write pass itself: each
    // rule's violation flag rides next to the data columns and the writer
    // sums it per slice (rules see LOGICAL names, so they evaluate before
    // the physical rename). A checked column the batch omits is evaluated
    // as null on every row (the schema-merging read semantics), never an
    // analysis error.
    val (rulesGen, rules) = Checks.listWithGen(spark, root)
    val aug =
      if (rules.isEmpty) df
      else Checks.augmentMissing(spark, df, rules, Checks.tableSchema(spark, root))
    // files always store PHYSICAL column names; the batch arrives logical.
    // Stats are likewise collected and recorded under physical names — the
    // resolve-time relabel maps them back to whatever the logical name is
    // at read time.
    val dataCols = df.columns.toSeq.map(c =>
      col(org.apache.spark.sql.catalyst.util.QuotingUtils.quoteIdentifier(c))
        .as(toPhys.getOrElse(c, c)))
    val flagCols = rules.zipWithIndex.map { case (r, i) => Checks.violated(r).as(s"__chk$i") }
    val dfP = aug.select(dataCols ++ flagCols: _*)
    val physSchema = StructType(dfP.schema.fields.take(dataCols.size))
    val statsP = (statsCols.map(c => toPhys.getOrElse(c, c)) ++ statsPhysExtra).distinct
    val bloomPhysW = (bloomCols.map(c => toPhys.getOrElse(c, c)) ++ bloomPhysExtra).distinct
    // hash-clustered write: one shuffle partition per bucket, so the
    // slice index in each file's name IS the bucket id (the explicit
    // partition count pins the shuffle — AQE never coalesces a
    // REPARTITION_BY_NUM, which is what keeps index == pmod(hash(col), n)).
    // Bucket purity then holds per FILE, the invariant the manifest's
    // Clustering spec asserts and storage-partitioned joins rely on.
    // A `sorted` spec additionally sorts rows inside each bucket (asc,
    // nulls first — what the scan's reported ordering asserts).
    // A COMPOSITE grid (round 15) shuffles on the cell-id tuple instead and
    // writes one file per grid CELL, named `...-g<i0>-<i1>...` so
    // [[gridOfFile]] recovers the cell from the NAME (a collision merging
    // two cells into one task is fine: rows arrive cell-sorted and the
    // writer splits them into separate files).
    val gridDims = cluster.map(_.cols.size).filter(_ > 1).getOrElse(0)
    val q = cluster.fold(dfP) { c =>
      val ks = c.cols.map(col)
      if (gridDims == 0) {
        val r = dfP.repartition(c.buckets, ks: _*)
        if (c.sorted) r.sortWithinPartitions(ks: _*) else r
      } else {
        val ids = c.cols.zipWithIndex.map { case (cc, i) =>
          pmod(hash(col(cc)), lit(c.buckets)).cast("int").as(s"__gb$i") }
        val idCols = gridColNames(gridDims).map(col)
        val parts = math.min(math.pow(c.buckets.toDouble, gridDims.toDouble), 1024.0).toInt
        dfP.select(dfP.columns.toSeq.map(col) ++ ids: _*)
          .repartition(parts, idCols: _*)
          .sortWithinPartitions(idCols ++ (if (c.sorted) ks else Nil): _*)
      }
    }
    try {
      val out = BatchFiles.write(q,
        BatchFiles.Layout(dataDir, physSchema.json, physSchema.length, rules.size,
          gridDims, spark.sessionState.conf.maxRecordsPerFile),
        graft.streaming.SnapshotParquetDataWriter.writerConf(spark, physSchema, bloomPhysW))
      val bad = rules.zip(out.violations).filter(_._2 > 0L)
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"check constraint violation writing to $root: " + bad.map { case (r, n) =>
          s"'${r.name}' ($n rows, ${r.exprSql})" }.mkString(", "))
      val written = out.files.map(_._1).sorted
      testPostWriteHook()
      // a rule set that CHANGED while this batch wrote (a concurrent
      // Checks.add — the minutes-long window of a big write) was not
      // counted: re-validate the written files against the current rules
      // before anything can publish them — one scan of this batch's
      // files, paid only in the race. Files store physical names; rules
      // speak logical ones.
      val (genNow, rulesNow) = Checks.listWithGen(spark, root)
      if (genNow != rulesGen && rulesNow.nonEmpty && written.nonEmpty) {
        val staged0 = spark.read.parquet(written: _*)
        val toLogical = toPhys.map(_.swap)
        val staged = staged0.select(staged0.columns.toSeq.map(c =>
          col(c).as(toLogical.getOrElse(c, c))): _*)
        Checks.findViolation(staged, rulesNow,
            Checks.tableSchema(spark, root)).foreach { case (rname, cnt) =>
          throw new IllegalArgumentException(
            s"check constraint violation writing to $root: '$rname' ($cnt rows, " +
              "rule added concurrently with this write)")
        }
      }
      // footers first: the scan pass re-reads every byte this commit just
      // wrote — at any scale that DOUBLES commit I/O and costs a Spark job;
      // the footers already carry exact chunk stats for the common key types
      val (stats, mined) = statsFromFooters(spark, written, statsP)
        .getOrElse(collectStats(spark, written, statsP))
      // row counts are the writer's; byte sizes come from the footer pass
      // when it ran, else from one stat per file
      val sizes = mined.collect { case r if r.bytes >= 0L => r.file -> r.bytes }.toMap
      val rows = out.files.sortBy(_._1).map { case (u, n) =>
        val name = new Path(u).getName
        FileRows(name, n, sizes.getOrElse(name, f.getFileStatus(new Path(u)).getLen))
      }
      // a batch with no rows wrote no file: there is nothing to sketch
      val blooms =
        if (bloomCols.isEmpty || written.isEmpty) Seq.empty
        else collectBlooms(spark, written, bloomCols.map(c => toPhys.getOrElse(c, c)),
          df.schema, toPhys, rows)
      (written, stats, rows, blooms)
    } catch {
      case scala.util.control.NonFatal(e) =>
        f.delete(new Path(dataDir), true)
        throw e
    }
  }

  /** One scan of the freshly-written files building a per-file Bloom sketch
    * per requested STRING column — the opt-in pruning index for opaque
    * keys ([[FileBloom]]). Sized from the batch's own footer row counts
    * (~10 bits/row, 1 MiB-bits cap per file); inserted values are
    * `xxhash64(col)` (seed 42), the exact hash the driver-side membership
    * probe recomputes. Non-string columns are refused loudly: the probe
    * collects keys as strings, and only a string column's cast is the
    * identity the shared hash needs. */
  private def collectBlooms(
      spark: SparkSession,
      paths: Seq[String],
      bloomColsPhys: Seq[String],
      logicalSchema: StructType,
      toPhys: Map[String, String],
      rows: Seq[FileRows]): Seq[FileBloom] = {
    import org.apache.spark.sql.functions._
    val physToLogical = toPhys.map(_.swap)
    bloomColsPhys.foreach { pc =>
      val lc = physToLogical.getOrElse(pc, pc)
      val f = logicalSchema.fields.find(_.name == lc)
        .getOrElse(sys.error(s"bloomCols column '$lc' not in the batch"))
      require(f.dataType == org.apache.spark.sql.types.StringType,
        s"bloomCols supports STRING columns only ('$lc' is ${f.dataType.simpleString}) — " +
          "numeric keys already prune by the min/max stats index")
    }
    graft.plans.GraftExtensions.register(spark)
    val est = math.max(1L, rows.map(_.n).foldLeft(0L)(math.max))
    val numBits = math.min(java.lang.Long.highestOneBit(est * 10 * 2 - 1), 1L << 20)
    val aggs = bloomColsPhys.map(c =>
      call_function("bloom_agg_bits", xxhash64(col(c)), lit(est), lit(numBits))
        .as(s"__bf_$c"))
    spark.read.parquet(paths: _*)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq
      .flatMap { r =>
        val name = new Path(r.getAs[String]("__f")).getName
        bloomColsPhys.flatMap { c =>
          Option(r.getAs[Array[Byte]](s"__bf_$c")).map(bytes =>
            FileBloom(name, c, java.util.Base64.getEncoder.encodeToString(bytes)))
        }
      }
  }

  /** Footer reads above this count fan out as a Spark job instead of a
    * serial driver loop: a 10k-file commit's stats pass is then bounded
    * by the cluster, not one thread's round-trips (at 100 TB the commit
    * path IS the ingest hot path). Below it, the job-launch overhead
    * costs more than the loop. */
  private val FooterFanoutCutoff = 64

  /** The driver's Hadoop conf as shippable entries (credentials, fs
    * settings) — executors rebuild a Configuration from them. */
  private def hadoopEntries(spark: SparkSession): Array[(String, String)] =
    graft.streaming.SnapshotParquetDataWriter.entries(spark.sparkContext.hadoopConfiguration)

  private def footerConf(entries: Array[(String, String)]) = {
    val conf = new org.apache.hadoop.conf.Configuration(true)
    entries.foreach { case (k, v) => conf.set(k, v) }
    conf
  }

  /** Mine footers serially on the driver for small batches, as a Spark
    * job above [[FooterFanoutCutoff]]. `one` must be executor-safe
    * (self-contained, no SparkSession capture). The driver path hands
    * `one` the driver's own Hadoop conf; the fanout path rebuilds ONE conf
    * per partition from shipped entries — `new Configuration(true)`
    * re-parses the XML resource files, which measured as a visible slice
    * of commit wall time when paid per file. For the same reason `one`
    * opens its reader with `HadoopReadOptions.builder(conf)`: a bare
    * `ParquetFileReader.open(in)` builds a fresh Configuration per footer. */
  private def minedFooters[T: scala.reflect.ClassTag](
      spark: SparkSession,
      files: Seq[String],
      one: (String, org.apache.hadoop.conf.Configuration) => T): Seq[T] =
    if (files.size <= FooterFanoutCutoff) {
      val conf = spark.sparkContext.hadoopConfiguration
      files.map(one(_, conf))
    } else {
      val entries = hadoopEntries(spark)
      val parts = math.max(1,
        math.min(files.size / 8, spark.sparkContext.defaultParallelism * 2))
      spark.sparkContext.parallelize(files, parts).mapPartitions { it =>
        val conf = footerConf(entries)
        it.map(one(_, conf))
      }.collect().toSeq
    }

  /** Mine ONE file's footer into its stats rows + row count. None = this
    * footer cannot yield sound stats (unreadable, or a stats column's
    * physical type is outside the index's canon) — the CALLER falls back
    * to the scan pass for the whole batch. A column merely missing stats
    * yields no row for it (the file stays an always-candidate), which is
    * not a miss. Executor-safe: conf rebuilt from shipped entries. */
  private def mineFooterStats(
      uri: String,
      statsCols: Seq[String],
      conf: org.apache.hadoop.conf.Configuration): Option[(Seq[ColStats], FileRows)] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    final class FooterMiss extends RuntimeException
    def supported(t: org.apache.parquet.schema.Type): Boolean =
      t.isPrimitive && {
        val p = t.asPrimitiveType()
        val ann = p.getLogicalTypeAnnotation
        p.getPrimitiveTypeName match {
          case FLOAT | DOUBLE => ann == null
          case INT64 => ann == null || (ann match {
            case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
            // MICROS timestamps (NTZ and LTZ both store micros): already
            // the canonical index unit — recorded verbatim below
            case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
            case _ => false
          })
          case INT32 => ann == null || (ann match {
            case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
            case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => true
            case _ => false
          })
          // UTF8 strings: bounds land in slo/shi (chunk min/max may be
          // TRUNCATED bounds — parquet's BinaryTruncator keeps them valid
          // as bounds, which is all band pruning needs)
          case BINARY => ann == LogicalTypeAnnotation.stringType()
          case _ => false
        }
      }
    def isStringType(t: org.apache.parquet.schema.Type): Boolean =
      t.isPrimitive &&
        t.asPrimitiveType().getPrimitiveTypeName == BINARY &&
        t.asPrimitiveType().getLogicalTypeAnnotation ==
          LogicalTypeAnnotation.stringType()
    /** Footer value → the index's canonical double (timestamps as exact
      * epoch micros; everything else verbatim). */
    def canonicalOf(t: org.apache.parquet.schema.Type): Number => Double = {
      t.asPrimitiveType().getLogicalTypeAnnotation match {
        case _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          (v: Number) => v.longValue().toDouble
        case _ => (v: Number) => v.doubleValue()
      }
    }
    try {
      val u = uri
      val perFile = {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new Path(u), conf)
        val r =
          try org.apache.parquet.hadoop.ParquetFileReader.open(in,
            org.apache.parquet.HadoopReadOptions.builder(conf).build())
          catch { case scala.util.control.NonFatal(_) => throw new FooterMiss }
        try {
          val footer = r.getFooter
          val schema = footer.getFileMetaData.getSchema
          val blocks = footer.getBlocks.asScala.toSeq
          val name = new Path(u).getName
          val nRows = blocks.map(_.getRowCount).sum
          val colStats = statsCols.flatMap { c =>
            if (!schema.containsField(c)) None // evolving batch: no column → no stats
            else if (!supported(schema.getType(Seq(c): _*))) throw new FooterMiss
            else {
              val isStr = isStringType(schema.getType(Seq(c): _*))
              val conv = canonicalOf(schema.getType(Seq(c): _*))
              var lo = Double.PositiveInfinity
              var hi = Double.NegativeInfinity
              var sLo: Array[Byte] = null
              var sHi: Array[Byte] = null
              var nulls = 0L
              var nullsKnown = true
              var usable = true
              var any = false
              blocks.foreach { b =>
                b.getColumns.asScala.find(_.getPath.toDotString == c) match {
                  case None => usable = false
                  case Some(ch) =>
                    val st = ch.getStatistics
                    if (st == null) usable = false
                    else {
                      if (st.isNumNullsSet) nulls += st.getNumNulls
                      else nullsKnown = false
                      if (st.hasNonNullValue) {
                        any = true
                        (st.genericGetMin, st.genericGetMax) match {
                          case (mn: java.lang.Number, mx: java.lang.Number) if !isStr =>
                            lo = math.min(lo, conv(mn))
                            hi = math.max(hi, conv(mx))
                          case (mn: org.apache.parquet.io.api.Binary,
                                mx: org.apache.parquet.io.api.Binary) if isStr =>
                            // unsigned-byte order == UTF-8 code-point order
                            val (mnB, mxB) = (mn.getBytes, mx.getBytes)
                            if (sLo == null ||
                                java.util.Arrays.compareUnsigned(mnB, sLo) < 0) sLo = mnB
                            if (sHi == null ||
                                java.util.Arrays.compareUnsigned(mxB, sHi) > 0) sHi = mxB
                          case _ => usable = false
                        }
                      } else if (!(st.isNumNullsSet &&
                          st.getNumNulls == ch.getValueCount))
                        usable = false // neither values nor a proven-all-null chunk
                    }
                }
              }
              if (!usable) None
              else if (!any)
                // every chunk proved all-null (the usable guard above
                // rejected anything else): a no-range TOMBSTONE, so
                // ANALYZE never mistakes this file for index decay
                (if (nullsKnown) Some(ColStats(name, c, 0, 0,
                  nulls = nulls, nr = true)) else None)
              else if (isStr) {
                if (sLo == null || sHi == null) None
                else Some(ColStats(name, c, 0, 0,
                  nulls = if (nullsKnown) nulls else -1L,
                  slo = new String(sLo, java.nio.charset.StandardCharsets.UTF_8),
                  shi = new String(sHi, java.nio.charset.StandardCharsets.UTF_8)))
              } else if (!java.lang.Double.isFinite(lo) || !java.lang.Double.isFinite(hi))
                // NaN-polluted float/double chunk bounds (parquet-mr
                // propagates NaN): no usable range BY DESIGN — tombstone
                // when the null count is exact, else stay absent
                (if (nullsKnown) Some(ColStats(name, c, 0, 0,
                  nulls = nulls, nr = true)) else None)
              else Some(ColStats(name, c, lo, hi,
                nulls = if (nullsKnown) nulls else -1L))
            }
          }
          (colStats, FileRows(name, nRows, in.getLength))
        } finally r.close()
      }
      Some(perFile)
    } catch { case _: FooterMiss => None }
  }

  /** Footer-derived per-file stats: min/max/null-count for `statsCols` plus
    * row counts, read from the parquet FOOTERS of freshly-written files —
    * metadata-only I/O, NO Spark job. Integral/floating top-level
    * columns qualify (chunk stats order-match Spark's double-cast exactly:
    * long→double rounding is monotone, so cast(min) = min(cast)), as do
    * MICROS-annotated INT64 timestamps (epoch micros, the index's canonical
    * unit, verbatim) and INT32 dates (epoch days verbatim); a
    * DECIMAL/string/other statsCol returns None and the caller falls back
    * to the distributed scan, preserving its exact semantics. A
    * (file, column) whose chunks lack usable stats yields no ColStats row
    * — consumers already treat missing stats as must-scan — and an all-null
    * file records none, both matching the scan path. Driver-side and
    * O(batch files): a commit's file count is bounded by its partitioning
    * (never the table's), so this stays trivial even when the table is
    * 100 TB; the footer open is the same metadata read [[writeShard]]
    * already does for row counts, now paid once. */
  private def statsFromFooters(
      spark: SparkSession,
      files: Seq[String],
      statsCols: Seq[String]): Option[(Seq[ColStats], Seq[FileRows])] = {
    if (statsCols.isEmpty) return Some((Seq.empty, Seq.empty))
    val perFile = minedFooters(spark, files, mineFooterStats(_, statsCols, _))
    if (perFile.contains(None)) None
    else Some((perFile.flatMap(_.get._1), perFile.map(_.get._2)))
  }

  /** Additive schema evolution: the carried schema plus any columns the
    * batch introduces (appended, nullable for old files via parquet's
    * missing-column fill). A same-name column with a different type is a
    * hard error — silent coercion is how lakes corrupt. */
  private def mergeSchemas(
      parent: Option[StructType],
      batch: StructType,
      assigned: Map[String, String] = Map.empty): StructType = {
    // a batch NEVER brings its own mapping claims — only the engine assigns
    // physical names (parent fields keep theirs; `assigned` adds fresh ones)
    val clean = StructType(batch.fields.map { f =>
      if (!f.metadata.contains(PhysicalKey)) f
      else f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).remove(PhysicalKey).build())
    })
    parent.fold(clean) { p =>
      val byName = p.fields.map(f => f.name -> f).toMap
      clean.fields.foreach { f =>
        byName.get(f.name).foreach { old =>
          require(old.dataType == f.dataType,
            s"schema evolution type conflict on '${f.name}': " +
              s"table has ${old.dataType.simpleString}, batch has ${f.dataType.simpleString}")
        }
      }
      val newFields = clean.fields.filterNot(f => byName.contains(f.name)).map { f =>
        assigned.get(f.name).fold(f)(phys => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).putString(PhysicalKey, phys).build()))
      }
      StructType(p.fields ++ newFields)
    }
  }

  private[graft] def parseSchemaStr(s: String): StructType =
    DataType.fromJson(s).asInstanceOf[StructType]

  private def parseSchema(m: Manifest): StructType = parseSchemaStr(m.schema)

  /** Scan exactly `files`, planned against the manifest's recorded schema
    * and file sizes when present (no footer sampling, and no file status
    * request for a file whose size the manifest records under a unique
    * basename; files written before a column existed read it as null), with the
    * manifest's DELETION VECTORS applied —
    * every read path funnels here, so a merge-on-read delete is invisible
    * to all downstream consumers (merge/mergeInto/delete survivors,
    * readRange/readWhere/readForKeys, compaction, countWhere's boundary
    * scans) by construction. */
  private[graft] def readFiles(spark: SparkSession, m: Manifest, files: Seq[String]): DataFrame =
    readFilesDvs(spark, m, files, m.dvs)

  private[graft] val DvFileCol = "__gdv_file"
  private[graft] val DvPosCol = "__gdv_pos"

  /** The one deletion-vector decoder: base64 text (a [[FileDv]]'s `b64`)
    * or the serialized bytes `rb64_agg` emits, to a bitmap. */
  private[graft] def dvDecode(b64: String): org.roaringbitmap.longlong.Roaring64Bitmap =
    dvFromBytes(java.util.Base64.getDecoder.decode(b64))

  private[graft] def dvFromBytes(bytes: Array[Byte]): org.roaringbitmap.longlong.Roaring64Bitmap = {
    val bm = new org.roaringbitmap.longlong.Roaring64Bitmap()
    bm.deserialize(new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes)))
    bm
  }

  private def dvEncode(bm: org.roaringbitmap.longlong.Roaring64Bitmap): String = {
    bm.runOptimize()
    val bos = new java.io.ByteArrayOutputStream()
    bm.serialize(new java.io.DataOutputStream(bos))
    java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
  }

  /** [[readFiles]] with an explicit DV set — [[signedDelta]] reads REMOVED
    * files under the FROM version's vectors (the rows that existed then)
    * while planning against the TO version's schema. */
  private def readFilesDvs(
      spark: SparkSession,
      m: Manifest,
      files: Seq[String],
      dvs: Seq[FileDv]): DataFrame = {
    val relevant = relevantDvs(files, dvs)
    if (relevant.isEmpty) readFilesRaw(spark, m, files, withMeta = false)
    else {
      import org.apache.spark.sql.functions.col
      val live = liveRowsFiltered(spark, m, files, relevant)
      val keep = live.columns.filterNot(_.startsWith("__gdv_")).toSeq
      live.select(keep.map(col): _*)
    }
  }

  private def relevantDvs(files: Seq[String], dvs: Seq[FileDv]): Seq[FileDv] = {
    val names = files.map(u => new Path(u).getName).toSet
    dvs.filter(d => names.contains(d.file) && d.deleted > 0)
  }

  /** `files`' LIVE rows with the hidden DV meta columns retained: a row
    * filter drops the positions the vectors in `dvs` mark for these files,
    * inside the scan's own job ([[RowFilters.dvLive]]). The ONE
    * implementation of vector application — reads, keyed vectored
    * deletes, and predicate vectored deletes all route here. The meta
    * columns stay so the vectored deletes can mark further positions. */
  private def liveRowsWithMeta(
      spark: SparkSession,
      m: Manifest,
      files: Seq[String],
      dvs: Seq[FileDv]): DataFrame =
    liveRowsFiltered(spark, m, files, relevantDvs(files, dvs))

  private def liveRowsFiltered(
      spark: SparkSession,
      m: Manifest,
      files: Seq[String],
      relevant: Seq[FileDv]): DataFrame = {
    val raw = readFilesRaw(spark, m, files, withMeta = true)
    if (relevant.isEmpty) raw
    else raw.filter(RowFilters.dvLive(relevant, DvFileCol, DvPosCol))
  }

  /** The physical scan: a [[ManifestFileIndex]] relation planned against
    * the manifest's recorded schema. `withMeta = true`
    * appends the two hidden DV meta
    * columns — file basename and `_metadata.row_index`, the stable
    * within-file row position parquet scans expose — BEFORE any
    * column-mapping select (the `_metadata` struct is only reachable on
    * the scan relation itself). */
  private def readFilesRaw(
      spark: SparkSession,
      m: Manifest,
      files: Seq[String],
      withMeta: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at, split}
    def metaCols: Seq[org.apache.spark.sql.Column] = Seq(
      element_at(split(col("_metadata.file_path"), "/"), -1).as(DvFileCol),
      col("_metadata.row_index").as(DvPosCol))
    def addMeta(df: DataFrame): DataFrame =
      if (!withMeta) df
      else df.select(df.columns.toSeq.map(col) ++ metaCols: _*)
    val s = parseSchema(m)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
    else {
      // plan against PHYSICAL names (what the files store), surface
      // LOGICAL: a renamed column reads from every file generation (files
      // lacking the physical column fill nulls — additive evolution), a
      // dropped column is simply not requested, and with no mapping this
      // is the plain schema read. The relation is sized from the
      // manifest's recorded bytes: planning touches no data file.
      val bytes = recordedSizes(m)
      def scan(schema: StructType) = ManifestFileIndex.scan(spark, files, bytes, schema)
      val l2p = logicalToPhysical(s)
      if (l2p.isEmpty) addMeta(scan(s))
      else {
        val phys = StructType(s.fields.map(f => f.copy(name = physicalOf(f))))
        // strip the mapping key from the surfaced schema: the logical
        // frame must not leak physical names into downstream schemas (a
        // compact's overwrite would otherwise record a stale mapping)
        val logicalCols = s.fields.toSeq.map(f =>
          org.apache.spark.sql.functions.col(physicalOf(f)).as(f.name,
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata).remove(PhysicalKey).build()))
        scan(phys)
          .select(logicalCols ++ (if (withMeta) metaCols else Seq.empty): _*)
      }
    }
  }

  /** The sizes `m`'s shards recorded, keyed by full path. Entries are keyed
    * by BASENAME, so a size is trusted only for a file `m` lists whose
    * basename occurs once in `m.files` and whose entries agree on one size
    * (two namesakes — possible after `convertInPlace` of a foreign layout —
    * could otherwise swap sizes). Any other file, including one `m` does not
    * list (a delta's removed files), is stat-ed by the index. */
  private def recordedSizes(m: Manifest): Map[Path, Long] = {
    val sizes = m.rows.groupBy(_.file).collect {
      case (n, rs) if rs.map(_.bytes).distinct.size == 1 => n -> rs.head.bytes
    }
    m.files.distinct.groupBy(u => new Path(u).getName).collect {
      case (n, Seq(u)) if sizes.contains(n) => new Path(u) -> sizes(n)
    }
  }

  /** Executor-safe single-footer row count (None: unreadable). */
  private def mineFooterRows(
      uri: String, conf: org.apache.hadoop.conf.Configuration): Option[FileRows] =
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(uri), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in,
        org.apache.parquet.HadoopReadOptions.builder(conf).build())
      val n = try r.getRecordCount finally r.close()
      Some(FileRows(new Path(uri).getName, n, in.getLength))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-file row counts from parquet footers — a metadata read per file,
    * no Spark job. Unreadable footers are omitted (consumers treat a
    * missing count as "must scan", never as zero). */
  private def rowsFromFooters(spark: SparkSession, files: Seq[String]): Seq[FileRows] =
    if (files.isEmpty) Seq.empty
    else minedFooters(spark, files, mineFooterRows).flatten

  /** Write one immutable metadata shard (the batch's file list + stats +
    * per-file row counts); nothing references it until a manifest names it,
    * so a loser's shard is ordinary orphan debris, never a correctness
    * hazard. Files whose row count `knownRows` doesn't carry are counted
    * from their parquet FOOTERS — a metadata-only read per file, no Spark
    * job — so every shard this engine writes carries complete counts: the
    * stats pass supplies them when it runs, footers fill the statsCols-free
    * commit path, and metadata-only rewrites (carry/compact) pass the
    * already-known counts through. A file whose footer can't be read (not
    * parquet, simulated FS quirk) is simply omitted — consumers treat a
    * missing count as "must scan", never as zero. */
  private def writeShard(
      spark: SparkSession,
      root: String,
      files: Seq[String],
      stats: Seq[ColStats],
      knownRows: Seq[FileRows] = Seq.empty,
      blooms: Seq[FileBloom] = Seq.empty,
      dvs: Seq[FileDv] = Seq.empty): ShardRef = {
    val f = fs(spark, root)
    f.mkdirs(new Path(s"${dataRoot(root)}/$SnapDir"))
    val known = knownRows.map(_.file).toSet
    val missing = files.filterNot(u => known.contains(new Path(u).getName))
    val rows = knownRows ++ rowsFromFooters(spark, missing)
    val name = s"shard-${java.util.UUID.randomUUID().toString.replace("-", "").take(16)}.json"
    val out = f.create(shardPath(root, name), /*overwrite=*/ false)
    try out.write(renderShard(files, stats, rows, blooms, dvs).getBytes("UTF-8"))
    finally out.close()
    ShardRef(name, files.size)
  }

  /** Shard-ref count past which a successful commit triggers an automatic
    * [[compactManifests]]. DEFAULT-ON policy, not opt-in mechanism: without
    * it a 10k-commit table carries 10k ShardRefs (~40 B each) in every
    * manifest and nothing bounds the growth unless an operator remembers
    * to call maintenance. 64 refs ≈ 2.5 KB of manifest — compaction cost
    * amortizes to O(table metadata / 64) per commit. */
  private[graft] val AutoCompactShardRefs = 64

  /** Optimistic-commit loop at the metadata level: re-derive the new
    * manifest's shard-ref list + schema from the CURRENT head on every
    * attempt (so a retry lands on top of the racer's state, never a stale
    * one), then publish atomically. The shards themselves are immutable and
    * pre-written — a retry re-points at them, it never rewrites them.
    * Parsing the head refuses a manifest of another format, so no commit
    * ever lands on top of one ([[ManifestMeta]]).
    * `requireHead >= 0` turns the loop into a single guarded attempt: the
    * commit aborts loudly if the head is not exactly that version — the
    * read-modify-write fence for callers whose payload was computed FROM a
    * specific head (merge, delete, incremental refresh).
    *
    * `clustering` decides the published manifest's hash-clustering spec
    * FROM the head's (None in, None out for most commits): the default
    * DROPS it — conservative-correct, since only a path that provably
    * keeps every file bucket-pure (DV-only deletes, metadata-only commits,
    * a clustered append onto a same-spec head) may carry it forward. */
  private[engine] def publishMeta(
      spark: SparkSession,
      root: String,
      tag: String,
      requireHead: Long = -1L,
      retiredOverride: Option[Seq[String]] = None,
      clustering: Option[ManifestMeta] => Option[Clustering] = _ => None,
      // advisory index declaration (see ManifestMeta.indexed): default =
      // carry the head's; shard-adding commits pass their contribution
      indexed: Option[ManifestMeta] => Option[(Seq[String], Seq[String])] =
        h => h.flatMap(_.indexed))(
      build: Option[ManifestMeta] => (Seq[ShardRef], String)): Long = {
    var attempt = 0
    while (true) {
      attempt += 1
      require(attempt <= 50, s"gave up committing to $root after 50 version collisions")
      val head = headVersion(spark, root)
      if (requireHead >= 0 && head != requireHead)
        throw new ConcurrentCommitException(
          s"requirement failed: concurrent commit at $root (head v$head != expected " +
            s"v$requireHead) — the state this commit was computed from has moved; " +
            "recompute and retry")
      val headMeta = if (head > 0) Some(manifestMeta(spark, root, head)) else None
      val (refs, schema) = build(headMeta)
      require(schema.nonEmpty && parseSchemaStr(schema).nonEmpty,
        s"commit to $root records no columns")
      // retired physical names are a table-lifetime fact: inherited by every
      // commit; only dropColumn extends the list
      val retired = retiredOverride.getOrElse(
        headMeta.map(_.retired).getOrElse(Seq.empty))
      val m = ManifestMeta(head + 1, head, refs, tag,
        ts = System.currentTimeMillis(), schema = schema, retired = retired,
        clustering = clustering(headMeta), indexed = indexed(headMeta))
      if (tryWriteManifest(spark, root, m)) {
        // default-on metadata upkeep: once the ref list outgrows the
        // threshold, consolidate to ONE shard. The compaction commit itself
        // publishes a 1-ref manifest, so this cannot recurse. Best-effort:
        // it is optional maintenance — losing a race to a concurrent
        // committer (the requireHead fence inside compactManifests) must
        // not fail the commit that already succeeded; the next commit past
        // the threshold retries.
        if (refs.size > AutoCompactShardRefs)
          try compactManifests(spark, root)
          catch { case scala.util.control.NonFatal(_) => () }
        return m.version
      }
      // else: another writer took version head+1 between our listing and
      // our create — refresh the head and retry on top of THEIR commit
    }
    0L // unreachable
  }

  /** Copy-on-write MERGE (upsert by key): rows of `df` replace same-key
    * rows of the head snapshot; everything else carries forward UNTOUCHED —
    * by file reference, not rewrite. The stats index makes that cheap:
    * when the batch's distinct keys fit the driver cap, a file is touched
    * only if its recorded `key` range CONTAINS one of them (per-file set
    * membership — tight even for keys scattered across the table, whose
    * global [min, max] would cover everything); larger batches prune by
    * that global range. At 100 TB a point-ish upsert rewrites a sliver of
    * the table while a manifest-less layout rewrites (or
    * full-shuffle-joins) all of it. Files without recorded stats rewrite
    * conservatively. The rewrite
    * is one pruned scan → the batch's keys filtered out → union: a typed
    * `NOT IN` over the probe's collected keys when [[RowFilters.keyNotIn]]
    * proves it equal to the anti join, else the anti join (batch side
    * broadcastable). A driver-resident batch is probed with no job, so the
    * merge runs its write job and nothing else;
    * the commit publishes (untouched ++ rewritten) atomically. Losers of a
    * concurrent-commit race ABORT loudly (the publish fence rejects any
    * head advance since `headV`) — the caller recomputes against the new
    * head and retries; nothing is silently dropped or clobbered.
    * Metadata cost is O(batch) too: untouched shards carry by REFERENCE;
    * only the shards actually containing a touched file are rewritten
    * (filtered to their untouched entries — metadata only, no data I/O). */
  def merge(
      df: DataFrame,
      root: String,
      key: String,
      statsCols: Seq[String] = Seq.empty,
      tag: String = "",
      requireHead: Long = -1L,
      bloomCols: Seq[String] = Seq.empty): Long =
    mergeProbed(df, root, key, probeKeys(df, key), statsCols, tag, requireHead,
      bloomCols = bloomCols, probeIsBatch = true)

  /** [[merge]] with the batch-key probe precomputed by the caller — the
    * job-count lever for pipelines that already probed the SAME key set (or
    * a superset: pruning by a superset touches a superset of files, still
    * correct) to read the state they folded, e.g. [[Incremental
    * .refreshKeyed]] and [[Scd.merge]]. Skips this call's own two probe
    * jobs (one agg + one distinct-collect over the batch plan — which for
    * fold pipelines is a DEEP plan reading state files). */
  /** @param batchReplacesTouched the caller guarantees `df` IS the complete
    *   post-merge content of every file the probe touches (the whole-file
    *   fold shape: [[Incremental.refreshKeyed]] folds entire touched files
    *   with the delta, so its batch covers every key those files hold).
    *   Skips the survivors pass — no second read of the touched files, no
    *   distinct, no anti join; the batch is written as-is.
    * @param probeIsBatch `probe` is `df`'s own key set (not a superset), so
    *   the survivors pass may filter by its collected keys instead of
    *   anti-joining `df`'s key column. */
  private[engine] def mergeProbed(
      df: DataFrame,
      root: String,
      key: String,
      probe: KeyProbe,
      statsCols: Seq[String] = Seq.empty,
      tag: String = "",
      requireHead: Long = -1L,
      batchReplacesTouched: Boolean = false,
      bloomCols: Seq[String] = Seq.empty,
      probeIsBatch: Boolean = false): Long = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.col
    val headV = headVersion(spark, root)
    require(headV > 0, s"no snapshot committed at $root yet — merge needs a base")
    // fence for callers whose batch was COMPUTED from a specific head (the
    // keyed incremental refresh): abort before any pruning work if stale
    require(requireHead < 0 || headV == requireHead,
      s"concurrent commit at $root (head v$headV != expected v$requireHead) — " +
        "the state this merge was computed from has moved; recompute and retry")
    val meta = manifestMeta(spark, root, headV)
    val shards = loadShards(spark, root, meta)
    val m = resolve(meta, shards)
    // key-set pruning first (per-file membership — tight for scattered
    // keys); a too-large numeric set falls back to the global range
    // scalars; a non-numeric (opaque) key disables pruning — every file
    // rewrites, conservative but correct for string doc-id/hash keys
    val touched = probe match {
      case KeysEmpty => sys.error("merge batch has no non-null keys")
      case p => candidateFilesForProbe(m, key, p)
    }
    val touchedSet = touched.toSet
    val survivors =
      if (touched.isEmpty || batchReplacesTouched) df
      else keyed(readFiles(spark, m, touched), key, if (probeIsBatch) probe else KeysOpaque,
        df, anti = true)
        // allowMissingColumns: an evolving batch may introduce columns
        // (survivors fill nulls) or omit late-added ones (batch fills)
        .unionByName(df, allowMissingColumns = true)
    val parentSchema = parseSchema(m)
    val fresh = freshPhysicals(parentSchema, meta.retired, survivors.schema)
    val toPhys = logicalToPhysical(parentSchema) ++ fresh
    val (written, newStats, newRows, newBlooms) =
      writeBatch(survivors, root, statsCols, toPhys, bloomCols)
    val newRef = writeShard(spark, root, written, newStats, newRows, newBlooms)
    testPrePublishHook()
    // Conflict-validated publish (snapshot isolation, the Iceberg commit
    // model): losing the head race no longer always aborts. The merge's
    // READ set is the touched files (the stats-pruned superset holding
    // every occurrence of its keys) and its WRITE set the replacement
    // files — if every interim commit is provably disjoint from both, the
    // pre-written output re-points at the new head (metadata only, no
    // data rewritten) and commutes with the interim commits; anything
    // less provable aborts exactly as before. Callers that passed their
    // OWN requireHead fence (keyed refresh, SCD folds — batches computed
    // from cross-table state) keep strict abort semantics: their staleness
    // is about the state they folded, not this table's files.
    publishMergeOutput(spark, root, tag, headV, meta, shards, m, key, probe,
      touchedSet, newRef, allowRebase = requireHead < 0)(h =>
      mergedSchemaJson(Some(h.schema), survivors.schema, fresh))
  }

  /** The conflict-validated publish loop shared by [[merge]] and
    * [[mergeInto]]: attempt the fenced publish; on losing the race,
    * validate the interim commits against the merge's read/write set and
    * — when provably disjoint — re-point the pre-written output at the
    * new head and retry. `allowRebase = false` keeps the historical
    * strict abort (explicit caller fences; by-source full-sync merges,
    * whose row fates depend on EVERY target row, so no interim commit can
    * ever commute with them). */
  private def publishMergeOutput(
      spark: SparkSession,
      root: String,
      tag: String,
      headV: Long,
      meta: ManifestMeta,
      shards: Seq[Shard],
      m: Manifest,
      key: String,
      probe: KeyProbe,
      touchedSet: Set[String],
      newRef: ShardRef,
      allowRebase: Boolean)(
      schemaJson: ManifestMeta => String): Long = {
    var baseV = headV
    var baseShards = shards
    var rebases = 0
    while (true) {
      val carried = carryUntouched(spark, root, baseShards, touchedSet)
      try {
        return publishMeta(spark, root, tag, requireHead = baseV) { head =>
          val h = head.getOrElse(sys.error("merge base vanished"))
          (carried :+ newRef, schemaJson(h))
        }
      } catch {
        case e: ConcurrentCommitException =>
          rebases += 1
          if (!allowRebase || rebases > 10) throw e
          val nwV = headVersion(spark, root)
          val nwMeta = manifestMeta(spark, root, nwV)
          val nwShards = loadShards(spark, root, nwMeta)
          val nw = resolve(nwMeta, nwShards)
          validateMergeRebase(spark, root, m, meta, nw, nwMeta, key, probe,
            touchedSet) match {
            case Left(reason) => throw new ConcurrentCommitException(
              s"${e.getMessage} [rebase refused: $reason]")
            case Right(()) =>
              baseV = nwV; baseShards = nwShards
          }
      }
    }
    0L // unreachable
  }

  /** Test seam: runs between a merge's data write and its publish attempt,
    * where a deterministic spec injects a racing commit. */
  private[graft] var testPrePublishHook: () => Unit = () => ()

  /** Test seam inside [[writeBatch]], after the data write and before the
    * rule-change re-check — where a spec injects a racing `Checks.add`. */
  private[graft] var testPostWriteHook: () => Unit = () => ()

  /** Right(()) iff re-pointing a keyed merge computed at `old` onto `nw`
    * is provably sound — the interim commits are disjoint from the merge's
    * read/write set, so the operations commute:
    *   1. schema and retired-column history unchanged (an interim evolution
    *      would need re-planning);
    *   2. every file this merge rewrote still stands in the new head, with
    *      its deletion vector unchanged (an interim rewrite/DV on one means
    *      the survivors were computed from superseded rows — lost update);
    *   3. no interim-added file can hold any of the merge's keys. Checked
    *      per interim COMMIT, walking the chain: an OPTIMIZE-tagged commit
    *      ([[OptimizeTag]] — compaction / DV materialization, provably
    *      row-preserving) whose removed files were all already key-free is
    *      exempt — its outputs hold exactly those files' live rows, so
    *      they are key-free by construction, stats or no stats (the case
    *      "a merge racing a compaction of disjoint files"); every other
    *      added file goes through the same stats/bloom candidacy the
    *      pruning used (a statless one is conservatively a conflict),
    *      otherwise the upsert would miss rows it should have replaced.
    *      A vacuumed interim manifest degrades the walk to the bulk
    *      head-level candidacy check (no exemptions — conservative).
    * Interim removals of OTHER files need no check: the merge's keys live
    * only inside its touched set (pruning is a superset), and the rebased
    * carry derives from the NEW head's shards, so disjoint removals are
    * respected automatically. */
  private def validateMergeRebase(
      spark: SparkSession,
      root: String,
      old: Manifest,
      oldMeta: ManifestMeta,
      nw: Manifest,
      nwMeta: ManifestMeta,
      key: String,
      probe: KeyProbe,
      touched: Set[String]): Either[String, Unit] = {
    def base(u: String) = new Path(u).getName
    /** Files of `files` whose stats/bloom candidacy (recorded in `man`)
      * cannot rule out a merge key. */
    def riskyIn(man: Manifest, files: Seq[String]): Seq[String] = {
      if (files.isEmpty) return Seq.empty
      val fb = files.map(base).toSet
      val sub = Manifest(man.version, files, man.parent,
        stats = man.stats.filter(s => fb.contains(s.file)),
        schema = man.schema,
        blooms = man.blooms.filter(b => fb.contains(b.file)))
      probe match {
        case KeysEmpty => files // unreachable: merge refuses an empty batch
        case p => candidateFilesForProbe(sub, key, p)
      }
    }
    if (nwMeta.schema != oldMeta.schema)
      Left("schema evolved between the merge's base and the new head")
    else if (nwMeta.retired != oldMeta.retired)
      Left("columns were retired between the merge's base and the new head")
    else {
      val nwFiles = nw.files.toSet
      val touchedBase = touched.map(base)
      def dvs(man: Manifest) =
        man.dvs.filter(d => touchedBase.contains(d.file)).sortBy(_.file)
      if (!touched.forall(nwFiles.contains))
        Left("an interim commit rewrote or removed a file this merge rewrote")
      else if (dvs(old) != dvs(nw))
        Left("an interim commit changed a deletion vector on a file this merge rewrote")
      else {
        val oldFiles = old.files.toSet
        val added = nw.files.filterNot(oldFiles)
        if (added.isEmpty) Right(())
        else walkInterim(spark, root, old, nw, touched, oldFiles, added, riskyIn)
      }
    }
  }

  /** Rule-3 per-commit walk (see [[validateMergeRebase]]): maintain the
    * set of provably key-free files, exempting row-preserving rewrites of
    * already-safe files from candidacy. */
  private def walkInterim(
      spark: SparkSession,
      root: String,
      old: Manifest,
      nw: Manifest,
      touched: Set[String],
      oldFiles: Set[String],
      added: Seq[String],
      riskyIn: (Manifest, Seq[String]) => Seq[String]): Either[String, Unit] = {
    try {
      // everything outside the touched superset provably holds no merge key
      var safe = oldFiles -- touched
      var prev = oldFiles
      var v = old.version + 1
      while (v <= nw.version) {
        val mm = manifestMeta(spark, root, v)
        val cm = manifest(spark, root, v)
        val cur = cm.files.toSet
        val removed = prev -- cur
        val addedC = (cur -- prev).toSeq
        if (mm.tag.startsWith(OptimizeTag) && removed.subsetOf(safe))
          safe ++= addedC // row-preserving rewrite of key-free files
        else {
          val risky = riskyIn(cm, addedC)
          if (risky.nonEmpty)
            return Left(
              s"an interim commit added ${risky.size} file(s) that may hold merge keys")
          safe ++= addedC
        }
        prev = cur
        v += 1
      }
      Right(())
    } catch {
      case scala.util.control.NonFatal(_) =>
        // an interim manifest is gone (vacuumed mid-race): no per-commit
        // classification possible — bulk candidacy on the head, no
        // exemptions
        val risky = riskyIn(nw, added)
        if (risky.isEmpty) Right(())
        else Left(
          s"an interim commit added ${risky.size} file(s) that may hold merge keys")
    }
  }

  /** Conditional MERGE INTO — the full warehouse verb ([[merge]] is its
    * degenerate whole-row-upsert form, the reference's staging upsert,
    * pandas_aws/redshift.py:348-384): WHEN MATCHED [AND cond] UPDATE SET /
    * DELETE and WHEN NOT MATCHED [AND cond] INSERT clauses, applied
    * first-match-wins per (target, source) pair, compiled onto the same
    * copy-on-write keyed path. The source's keys prune the file list through
    * the per-file stats index exactly as [[merge]]'s do — only files whose
    * recorded key range can contain a source key are read and rewritten;
    * every other file carries forward BY REFERENCE, shards included. At
    * 100 TB a point-ish merge rewrites a sliver of the table regardless of
    * clause mix.
    *
    * Semantics (SQL MERGE contract):
    *  - each target row in a touched file joins the source on `key` (left);
    *    an unmatched target row always carries;
    *  - a matched pair takes the FIRST Update/Delete clause whose condition
    *    holds (conditions see `t.*` and `s.*`); none holding carries the
    *    target row unchanged;
    *  - a source row matching NO target key anywhere takes the first Insert
    *    clause whose condition holds (conditions see `s.*`); inserted rows
    *    conform to the TARGET schema (explicit `values`, or source columns
    *    by name with null fill) — MERGE is not the schema-evolution path;
    *  - a target row with NO source match takes the first
    *    [[MergeClause.BySourceUpdate]]/[[MergeClause.BySourceDelete]]
    *    clause that accepts (conditions see `t.*` only) — the full-sync
    *    family; its presence disables file pruning (see the clause doc);
    *  - more than one source row per key is REFUSED loudly (the standard's
    *    cardinality error): first-match-wins against a nondeterministic
    *    source order would silently pick a winner.
    *
    * Pruning soundness for NOT MATCHED: any file that could contain a source
    * key is in the touched set by construction, so a source key absent from
    * the touched files' rows is absent from the whole table — the anti-join
    * against touched rows alone is exact. Concurrency: same optimistic fence
    * as [[merge]] — a racing commit aborts this one rather than losing rows.
    * A merge whose clauses change nothing still commits (rewrites the
    * touched files verbatim); callers wanting no-op detection diff versions. */
  def mergeInto(
      source: DataFrame,
      root: String,
      key: String,
      clauses: Seq[MergeClause],
      statsCols: Seq[String] = Seq.empty,
      tag: String = "",
      requireHead: Long = -1L,
      bloomCols: Seq[String] = Seq.empty): Long = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val spark = source.sparkSession
    require(clauses.nonEmpty, "mergeInto needs at least one WHEN clause")
    val headV = headVersion(spark, root)
    require(headV > 0, s"no snapshot committed at $root yet — mergeInto needs a base")
    require(requireHead < 0 || headV == requireHead,
      s"concurrent commit at $root (head v$headV != expected v$requireHead) — " +
        "the state this merge was computed from has moved; recompute and retry")
    val meta = manifestMeta(spark, root, headV)
    val shards = loadShards(spark, root, meta)
    val m = resolve(meta, shards)
    val targetSchema = parseSchema(m)
    val targetCols = targetSchema.fields.map(_.name).toSeq

    // clause validation up front — a typo'd SET column must not silently
    // no-op (the map lookup would just never fire)
    clauses.foreach {
      case MergeClause.Update(set, _) =>
        val bad = set.keys.filterNot(targetCols.contains)
        require(bad.isEmpty, s"UPDATE SET on non-target column(s): ${bad.mkString(", ")}")
      case MergeClause.BySourceUpdate(set, _) =>
        val bad = set.keys.filterNot(targetCols.contains)
        require(bad.isEmpty, s"UPDATE SET on non-target column(s): ${bad.mkString(", ")}")
      case MergeClause.Insert(values, _) =>
        val bad = values.keys.filterNot(targetCols.contains)
        require(bad.isEmpty, s"INSERT VALUES on non-target column(s): ${bad.mkString(", ")}")
      case _ => ()
    }
    // any NOT MATCHED BY SOURCE clause makes this a full-table operation:
    // a row's by-source fate depends on source ABSENCE, which no key-range
    // index can prune — the honest cost of full-sync semantics
    val hasBySource = clauses.exists {
      case _: MergeClause.BySourceUpdate | _: MergeClause.BySourceDelete => true
      case _ => false
    }
    // the standard's cardinality check: duplicate source keys would make
    // first-match-wins nondeterministic. One small agg over the batch
    // side. Null keys are exempt — null never equals any target key, so
    // null-keyed rows can't contend for a target row (they flow to NOT
    // MATCHED, where SQL inserts each of them).
    require(source.filter(col(key).isNotNull).groupBy(col(key)).count()
      .filter(col("count") > 1).limit(1).count() == 0,
      s"mergeInto source has duplicate '$key' values — MERGE requires at most " +
        "one source row per target row (the SQL cardinality violation)")

    val probe = if (hasBySource) KeysOpaque else probeKeys(source, key)
    val touched = probe match {
      case KeysEmpty => sys.error("mergeInto source has no non-null keys")
      case p => candidateFilesForProbe(m, key, p)
    }
    val touchedSet = touched.toSet
    val target = readFiles(spark, m, touched)

    // per-row action: first-match-wins within each family — a (target,
    // source) pair takes the first Update/Delete clause that accepts; an
    // unmatched target row takes the first BySource clause that accepts
    // (-1 = carry). Built as one nested CASE, fully codegen'd.
    val matchedClauses = clauses.zipWithIndex.collect {
      case (u: MergeClause.Update, i) => (u.cond.getOrElse(lit(true)), i, Some(u.set))
      case (d: MergeClause.Delete, i) => (d.cond.getOrElse(lit(true)), i, None)
    }
    val bySourceClauses = clauses.zipWithIndex.collect {
      case (u: MergeClause.BySourceUpdate, i) =>
        (u.cond.getOrElse(lit(true)), i, Some(u.set))
      case (d: MergeClause.BySourceDelete, i) =>
        (d.cond.getOrElse(lit(true)), i, None)
    }
    val matched = col(s"s.$key").isNotNull
    val action = matchedClauses.foldRight(lit(-1)) { case ((cond, i, _), rest) =>
      when(cond, lit(i)).otherwise(rest)
    }
    val bsAction = bySourceClauses.foldRight(lit(-1)) { case ((cond, i, _), rest) =>
      when(cond, lit(i)).otherwise(rest)
    }
    val joined = target.as("t")
      .join(source.as("s"), col(s"t.$key") === col(s"s.$key"), "left")
      .withColumn("__action", when(matched, action).otherwise(bsAction))
    val deleteIds = (matchedClauses ++ bySourceClauses).collect { case (_, i, None) => i }
    val kept =
      if (deleteIds.isEmpty) joined
      else joined.filter(!col("__action").isin(deleteIds: _*))
    val updates = (matchedClauses ++ bySourceClauses)
      .collect { case (_, i, Some(set)) => (i, set) }
    val outCols = targetCols.map { c =>
      updates.foldLeft(col(s"t.$c")) { case (acc, (i, set)) =>
        set.get(c).fold(acc)(v => when(col("__action") === i, v).otherwise(acc))
      }.as(c)
    }
    val survivorsT = kept.select(outCols: _*)

    // NOT MATCHED inserts, conformed to the target schema
    val insertClauses = clauses.zipWithIndex.collect {
      case (ins: MergeClause.Insert, i) => (ins, i)
    }
    val inserted: Option[DataFrame] =
      if (insertClauses.isEmpty) None
      else {
        val unmatched = source
          .join(target.select(col(key)), Seq(key), "left_anti").as("s")
        val insAction = insertClauses.foldRight(lit(-1)) { case (((ins, i)), rest) =>
          when(ins.cond.getOrElse(lit(true)), lit(i)).otherwise(rest)
        }
        val accepted = unmatched.withColumn("__action", insAction)
          .filter(col("__action") =!= -1)
        val srcCols = source.columns.toSet
        val insCols = targetSchema.fields.toSeq.map { f =>
          val fallback: Column =
            if (srcCols.contains(f.name)) col(s"s.${f.name}")
            else lit(null).cast(f.dataType)
          insertClauses.foldLeft(fallback) { case (acc, (ins, i)) =>
            ins.values.get(f.name)
              .fold(acc)(v => when(col("__action") === i, v).otherwise(acc))
          }.cast(f.dataType).as(f.name)
        }
        Some(accepted.select(insCols: _*))
      }
    val survivors = inserted.fold(survivorsT)(ins => survivorsT.unionByName(ins))

    // inserts conform to the target schema, so no fresh physicals can
    // arise here — only the parent's rename mapping applies
    val toPhys = logicalToPhysical(parseSchema(m))
    val (written, newStats, newRows, newBlooms) =
      writeBatch(survivors, root, statsCols, toPhys, bloomCols)
    val newRef = writeShard(spark, root, written, newStats, newRows, newBlooms)
    testPrePublishHook()
    publishMergeOutput(spark, root, tag, headV, meta, shards, m, key, probe,
      touchedSet, newRef,
      allowRebase = requireHead < 0 && !hasBySource)(h =>
      mergedSchemaJson(Some(h.schema), survivors.schema))
  }

  /** Carry the untouched portion of `shards` forward: a shard with no
    * touched file keeps its ref (zero I/O); a shard intersecting the
    * touched set is rewritten filtered to its untouched entries (cost ∝
    * that shard's size); a fully-touched shard drops. */
  private def carryUntouched(
      spark: SparkSession,
      root: String,
      shards: Seq[Shard],
      touched: Set[String]): Seq[ShardRef] =
    rewriteShards(spark, root, shards, touched, Map.empty)

  /** [[rewriteShards]] over a manifest's shards, for cross-chain callers
    * ([[Branches.publishRebase]]'s general case): drop `removed` files and
    * apply `dvUpdates` to the survivors, metadata-only. */
  private[engine] def rebaseSurgery(
      spark: SparkSession,
      root: String,
      meta: ManifestMeta,
      removed: Set[String],
      dvUpdates: Map[String, FileDv]): Seq[ShardRef] =
    rewriteShards(spark, root, loadShards(spark, root, meta), removed, dvUpdates)

  /** Carry `shards` forward minus `touched` files (dropped with all their
    * metadata — stats, counts, blooms, DVs retire with the file), applying
    * `dvUpdates` (basename → replacement vector) to surviving files and
    * dropping any DV entry in `dvDrop` (files whose vector was re-written
    * into a NEW deletion-vector shard by the fan-out delete — the stale
    * entry must not coexist with it). A shard intersecting none of these
    * carries BY REFERENCE; an affected one gets a metadata-only rewrite
    * that never re-opens surviving data files. PURE-DV shards (empty file
    * list, the fan-out delete's output) carry vectors for files that live
    * in OTHER shards: they rewrite when any of their entries' files is
    * touched/updated/dropped, and vanish when no entry survives. */
  private def rewriteShards(
      spark: SparkSession,
      root: String,
      shards: Seq[Shard],
      touched: Set[String],
      dvUpdates: Map[String, FileDv],
      dvDrop: Set[String] = Set.empty): Seq[ShardRef] = {
    val touchedNames = touched.map(u => new Path(u).getName)
    def dvStale(d: FileDv): Boolean =
      touchedNames.contains(d.file) || dvUpdates.contains(d.file) ||
        dvDrop.contains(d.file)
    shards.flatMap { sh =>
      val affected = sh.files.exists(touched) ||
        sh.files.exists(u => dvUpdates.contains(new Path(u).getName)) ||
        sh.dvs.exists(dvStale)
      if (!affected) Some(sh.ref)
      else if (sh.files.isEmpty) {
        // pure-DV shard: filter its entries; gone entirely when none left
        val dvs = sh.dvs.filterNot(dvStale)
        if (dvs.isEmpty) None
        else Some(writeShard(spark, root, Seq.empty, Seq.empty, Seq.empty,
          Seq.empty, dvs))
      } else {
        val keep = sh.files.filterNot(touched)
        if (keep.isEmpty) None
        else {
          val keepNames = keep.map(u => new Path(u).getName).toSet
          // stats, row counts, blooms AND deletion vectors carry through
          // filtered — a metadata-only rewrite must never re-open
          // surviving data files
          val dvs = sh.dvs.filter(d => keepNames.contains(d.file) && !dvStale(d)) ++
            dvUpdates.valuesIterator.filter(d => keepNames.contains(d.file))
          Some(writeShard(spark, root, keep,
            sh.stats.filter(s => keepNames.contains(s.file)),
            sh.rows.filter(r => keepNames.contains(r.file)),
            sh.blooms.filter(b => keepNames.contains(b.file)),
            dvs))
        }
      }
    }
  }

  /** Copy-on-write DELETE by key set: rows of the head snapshot whose `key`
    * appears in `keys` are removed; everything else carries forward BY FILE
    * REFERENCE. The right-to-erasure shape at 100 TB: the stats index
    * prunes to the files whose recorded `key` range overlaps the delete
    * set's [min, max], only those are read, filtered by the probe's
    * collected keys (or anti-joined, see [[keyed]]), and rewritten without
    * the matching rows;
    * a delete that can touch nothing is a true no-op (no new version).
    * Old versions still SEE the rows until [[vacuum]] destroys their files
    * — erasure is complete exactly when retention policy says so, the same
    * contract as every other history-bearing operation here. Concurrency:
    * same optimistic arbiter as [[merge]] — a racing commit aborts the
    * delete rather than silently resurrecting rows. */
  /** @param mergeOnRead true routes the delete through DELETION VECTORS
    *   ([[FileDv]], same machinery as [[deleteWhere]]): matching rows'
    *   positions vector instead of rewriting the touched files, with the
    *   `maxDvFraction` cap flipping heavy files back to copy-on-write.
    *   Default false — whole-file copy-on-write, the pre-round-9
    *   behavior. */
  def delete(
      keys: DataFrame,
      root: String,
      key: String,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      mergeOnRead: Boolean = false,
      maxDvFraction: Double = 0.5): Long = {
    val spark = keys.sparkSession
    import org.apache.spark.sql.functions.col
    val headV = headVersion(spark, root)
    require(headV > 0, s"no snapshot committed at $root yet — delete needs a base")
    val meta = manifestMeta(spark, root, headV)
    val shards = loadShards(spark, root, meta)
    val m = resolve(meta, shards)
    val probe = probeKeys(keys, key)
    val touched = probe match {
      case KeysEmpty => return headV // empty key set: nothing to delete
      case p => candidateFilesForProbe(m, key, p)
    }
    if (touched.isEmpty) return headV // no file can hold a matching row
    if (mergeOnRead) {
      // the right-to-erasure shape at its cheapest: mark the key set's row
      // positions in the (stats/bloom-pruned) touched files and vector
      // them — zero data-file rewrites under the fraction cap; existing
      // vectors apply first so a replayed key set no-ops
      import org.apache.spark.sql.functions.{call_function, count, lit}
      graft.plans.GraftExtensions.register(spark)
      val live = liveRowsWithMeta(spark, m, touched, m.dvs)
      val marked = keyed(live, key, probe, keys, anti = false)
        .groupBy(col(DvFileCol))
        .agg(count(lit(1)).as("__n"),
          call_function("rb64_agg", col(DvPosCol)).as("__bm"))
      return commitMarkedDeletes(spark, root, headV, shards, m, Some(marked),
        touched.size, mergeOnRead = true, maxDvFraction, statsCols, bloomCols,
        cowSurvivors = files => keyed(readFiles(spark, m, files), key, probe, keys, anti = true))
    }
    val touchedSet = touched.toSet
    val survivors = keyed(readFiles(spark, m, touched), key, probe, keys, anti = true)
    // a delete never introduces columns; only the rename mapping applies
    val toPhys = logicalToPhysical(parseSchema(m))
    val (written, newStats, newRows, newBlooms) =
      writeBatch(survivors, root, statsCols, toPhys, bloomCols)
    val newRef = writeShard(spark, root, written, newStats, newRows, newBlooms)
    testPrePublishHook()
    // a keyed delete is an upsert with an empty replacement for its keys —
    // the same disjointness validation makes its rebase sound
    publishMergeOutput(spark, root, tag = "", headV, meta, shards, m, key,
      probe, touchedSet, newRef, allowRebase = true)(h =>
      mergedSchemaJson(Some(h.schema), survivors.schema))
  }

  /** Predicate DELETE with MERGE-ON-READ deletion vectors: rows matching
    * `cond` are removed from the table WITHOUT rewriting the files that
    * hold them — their positions (parquet `_metadata.row_index`) are
    * folded into per-file compressed bitmaps ([[FileDv]]) recorded in the
    * metadata shards, and every read filters them out in its scan. The 100 TB
    * delete shape: a scattered small delete (GDPR keys, spam rows) costs
    * one pruned scan + O(positions) of compressed metadata, instead of
    * copy-on-write's full rewrite of every touched file.
    *
    * Mechanics per call:
    *  1. the predicate is judged against the stats/bloom index as in
    *     [[readWhere]] — only files that can hold a matching row scan;
    *  2. the scan (existing DVs applied, so already-deleted rows never
    *     re-count) marks matching positions and compresses them
    *     EXECUTOR-SIDE via the native `rb64_agg` bitmap aggregate — the
    *     driver receives one (file, bitmap, count) row per touched file;
    *  3. per file, the new deletions OR into any existing vector; a file
    *     whose total deleted fraction would exceed `maxDvFraction` is
    *     REWRITTEN instead (copy-on-write fallback) — the bound that keeps
    *     scan amplification from carried dead bytes capped;
    *  4. affected shards get a metadata-only rewrite; untouched shards
    *     carry by reference; the commit rides the same optimistic fence as
    *     [[merge]].
    *
    * Delete semantics match SQL DELETE WHERE: only rows where `cond`
    * evaluates TRUE are removed (null-evaluating rows stay). A predicate
    * matching nothing is a true no-op — no new version. Old versions still
    * see the rows ([[vacuum]] owns erasure), and [[restore]] to a
    * pre-delete version resurrects them — vectors are shard state like any
    * other metadata. `mergeOnRead = false` forces the pure copy-on-write
    * path for every touched file (identical result, different layout
    * cost). */
  def deleteWhere(
      spark: SparkSession,
      root: String,
      cond: org.apache.spark.sql.Column,
      mergeOnRead: Boolean = true,
      maxDvFraction: Double = 0.5,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Long = {
    import org.apache.spark.sql.functions.{call_function, coalesce, col, count, lit}
    val headV = headVersion(spark, root)
    require(headV > 0, s"no snapshot committed at $root yet — deleteWhere needs a base")
    require(maxDvFraction >= 0.0 && maxDvFraction <= 1.0,
      s"maxDvFraction must be in [0, 1], got $maxDvFraction")
    val meta = manifestMeta(spark, root, headV)
    val shards = loadShards(spark, root, meta)
    val m = resolve(meta, shards)
    if (m.files.isEmpty) return headV
    // prune as readWhere does — only files that can hold a match scan
    val probe = readFilesRaw(spark, m, Seq.empty, withMeta = false).filter(cond)
    val (candidates, fullDrop) =
      if (m.stats.isEmpty && m.blooms.isEmpty) (m.files, Set.empty[String])
      else statsPredicate(probe) match {
        case None => (m.files, Set.empty[String])
        case Some(pred) =>
          val kept = StatsPredicate.overlap(m, pred)
          // METADATA DELETE (round 16): a file the predicate accepts
          // (recorded bounds inside the band, zero recorded nulls)
          // provably holds ONLY matching rows — drop it from the manifest
          // without scanning, vectoring, or rewriting it. The retention
          // shape at 100 TB: `DELETE WHERE day < cutoff` over a
          // day-laid-out table is O(manifest), not a scan of the expiring
          // region. Sound under an existing DV (live rows ⊆ all rows, all
          // matching); files with unrecorded stats never accept.
          val full = StatsPredicate.accept(m, pred)
          (kept, kept.filter(full).toSet)
      }
    if (candidates.isEmpty) return headV
    val scanSet = candidates.filterNot(fullDrop)
    // one distributed pass over the files that are NOT provably all-match:
    // positions of newly-matching rows, compressed per file on the
    // executors (existing DVs applied first — a re-issued delete finds
    // nothing new and no-ops)
    val marked =
      if (scanSet.isEmpty) None
      else {
        graft.plans.GraftExtensions.register(spark)
        val live = liveRowsWithMeta(spark, m, scanSet, m.dvs)
        Some(live.filter(cond)
          .groupBy(col(DvFileCol))
          .agg(count(lit(1)).as("__n"),
            call_function("rb64_agg", col(DvPosCol)).as("__bm")))
      }
    commitMarkedDeletes(spark, root, headV, shards, m, marked, scanSet.size,
      mergeOnRead, maxDvFraction, statsCols, bloomCols,
      // survivors of rewritten files: DVs applied, then SQL DELETE
      // semantics — keep rows where cond is FALSE OR NULL
      cowSurvivors = files => readFiles(spark, m, files)
        .filter(!coalesce(cond, lit(false))),
      dropFiles = fullDrop)
  }

  /** Touched-file count above which [[commitMarkedDeletes]] classifies,
    * merges, and serializes deletion vectors IN THE MARKING JOB instead of
    * collecting per-file bitmaps to the driver (test-overridable). */
  private[graft] var MarkedDeleteFanout: Int = 4096

  /** Per-file delete classification, shared verbatim by the driver and
    * fan-out paths so they cannot diverge: 0 = DROP (every recorded row
    * now deleted — the file leaves the manifest), 1 = COPY-ON-WRITE
    * (mergeOnRead off / unknown row count / fraction cap exceeded — all
    * conservative toward CoW), 2 = VECTOR. */
  private def classifyMarked(
      newDel: Long, oldDel: Long, recorded: Option[Long],
      mergeOnRead: Boolean, maxDvFraction: Double): Int = {
    val total = newDel + oldDel
    if (recorded.exists(n => n > 0L && total == n)) 0
    else if (!mergeOnRead || recorded.forall(_ <= 0L) ||
      total.toDouble / recorded.get > maxDvFraction) 1
    else 2
  }

  /** Shared commit tail of the merge-on-read delete family: classify each
    * marked file (drop vs vector vs copy-on-write — [[classifyMarked]]),
    * OR new positions into existing vectors, rewrite CoW files through
    * `cowSurvivors`, carry everything else by reference, publish fenced.
    * `marked` is the UNCOLLECTED (file basename, new-deletion count,
    * bitmap bytes) aggregate; None / empty ⇒ true no-op (the head version
    * returns unchanged).
    *
    * Driver memory: up to [[MarkedDeleteFanout]] touched files the bitmap
    * rows collect (one compressed bitmap per file — the Delta-style commit
    * shape). ABOVE it the job itself merges each file's marks with its
    * existing vector, classifies, and writes the surviving vectors into
    * PURE-DV shards (one per partition, committed by reference); the
    * driver sees only (kind, name) strings — O(touched) names, zero bitmap
    * bytes — closing the last driver-side bottleneck of an O(table) delete. */
  private def commitMarkedDeletes(
      spark: SparkSession,
      root: String,
      headV: Long,
      shards: Seq[Shard],
      m: Manifest,
      marked: Option[DataFrame],
      touchedCount: Int,
      mergeOnRead: Boolean,
      maxDvFraction: Double,
      statsCols: Seq[String],
      bloomCols: Seq[String],
      cowSurvivors: Seq[String] => DataFrame,
      // files (URIs) provably ALL-MATCHING from metadata: dropped from the
      // manifest outright — never scanned, vectored, or rewritten
      dropFiles: Set[String] = Set.empty): Long = {
    val rowsByName = m.rows.map(r => r.file -> r.n).toMap
    val oldDvByName = m.dvs.map(d => d.file -> d).toMap
    val fanout = mergeOnRead && touchedCount > MarkedDeleteFanout
    // each branch yields: dead file names, CoW file names, driver-held DV
    // replacements, names whose DV moved into new pure-DV shards, and
    // those shards' refs
    val (deadNames, cowNames, dvUpdates, dvMoved, dvShardRefs):
        (Set[String], Set[String], Map[String, FileDv], Set[String], Seq[ShardRef]) =
      if (!fanout) {
        val rows = marked.map(_.collect().toSeq).getOrElse(Seq.empty)
        if (rows.isEmpty && dropFiles.isEmpty) return headV // true no-op
        def kind(r: org.apache.spark.sql.Row): Int = {
          val f = r.getString(0)
          classifyMarked(r.getLong(1),
            oldDvByName.get(f).map(_.deleted).getOrElse(0L),
            rowsByName.get(f), mergeOnRead, maxDvFraction)
        }
        // kind 0: a file whose EVERY recorded row is now deleted holds no
        // live data — drop it from the manifest outright instead of
        // carrying a full-cardinality vector (dead weight in every later
        // plan, and the phantom-group state for the metadata aggregate) or
        // rewriting it to an empty file. Sound exactly when the row count
        // is recorded: new marks are positions among LIVE rows (disjoint
        // from any existing vector by construction), so new + old == n
        // means every row is gone.
        val dead = rows.filter(kind(_) == 0).map(_.getString(0)).toSet
        val cow = rows.filter(kind(_) == 1).map(_.getString(0)).toSet
        val dvs = rows.filter(kind(_) == 2).map { r =>
          val f = r.getString(0)
          val bm = dvFromBytes(r.getAs[Array[Byte]]("__bm"))
          oldDvByName.get(f).foreach(old => bm.or(dvDecode(old.b64)))
          f -> FileDv(f, dvEncode(bm), bm.getLongCardinality)
        }.toMap
        (dead, cow, dvs, Set.empty[String], Seq.empty[ShardRef])
      } else {
        // FAN-OUT: ship the (tiny) recorded-count and old-vector indexes to
        // the job, classify and merge executor-side, stage pure-DV shards
        import spark.implicits._
        val rowsB = spark.sparkContext.broadcast(rowsByName)
        val oldDvDf = m.dvs.map(d => (d.file, d.b64, d.deleted))
          .toDF(DvFileCol, "__old64", "__olddel")
        val joined = marked.get.join(oldDvDf, Seq(DvFileCol), "left")
        val snapDir = s"${dataRoot(root)}/$SnapDir"
        val confEntries = hadoopEntries(spark)
        val mor = mergeOnRead
        val cap = maxDvFraction
        val outcomes: Seq[(String, String)] = joined.rdd.mapPartitions { it =>
          val entries = Seq.newBuilder[FileDv]
          val out = Seq.newBuilder[(String, String)]
          it.foreach { r =>
            val f = r.getString(0)
            val oldDel = if (r.isNullAt(4)) 0L else r.getLong(4)
            classifyMarked(r.getLong(1), oldDel, rowsB.value.get(f), mor, cap) match {
              case 0 => out += (("drop", f))
              case 1 => out += (("cow", f))
              case _ =>
                val bm = dvFromBytes(r.getAs[Array[Byte]]("__bm"))
                if (!r.isNullAt(3)) bm.or(dvDecode(r.getString(3)))
                entries += FileDv(f, dvEncode(bm), bm.getLongCardinality)
                out += (("dv", f))
            }
          }
          val es = entries.result()
          if (es.nonEmpty) {
            val name = "shard-" +
              java.util.UUID.randomUUID().toString.replace("-", "").take(16) + ".json"
            val conf = new org.apache.hadoop.conf.Configuration(false)
            confEntries.foreach { case (k, v) => conf.set(k, v) }
            val p = new Path(s"$snapDir/$name")
            val os = p.getFileSystem(conf).create(p, false)
            try os.write(renderShard(Seq.empty, Seq.empty, Seq.empty,
              Seq.empty, es).getBytes("UTF-8"))
            finally os.close()
            out += (("shard", name))
          }
          out.result().iterator
        }.collect().toSeq
        if (outcomes.isEmpty && dropFiles.isEmpty) return headV // true no-op
        (outcomes.collect { case ("drop", f) => f }.toSet,
          outcomes.collect { case ("cow", f) => f }.toSet,
          Map.empty[String, FileDv],
          outcomes.collect { case ("dv", f) => f }.toSet,
          outcomes.collect { case ("shard", n) => ShardRef(n, 0L) })
      }
    val allDrops = dropFiles ++
      m.files.filter(u => deadNames.contains(new Path(u).getName))
    val cowFiles = m.files.filter(u => cowNames.contains(new Path(u).getName))
    val toPhys = logicalToPhysical(parseSchema(m))
    val newRefs =
      if (cowFiles.isEmpty) Seq.empty
      else {
        val survivors = cowSurvivors(cowFiles)
        val (written, newStats, newRows, newBlooms) =
          writeBatch(survivors, root, statsCols, toPhys, bloomCols)
        Seq(writeShard(spark, root, written, newStats, newRows, newBlooms))
      }
    val carried = rewriteShards(spark, root, shards,
      cowFiles.toSet ++ allDrops, dvUpdates, dvDrop = dvMoved)
    // a PURE deletion-vector delete never moves a row between files, so
    // bucket purity — and the clustering spec — survives; metadata drops
    // remove whole files, which also preserves purity. Only a copy-on-write
    // rewrite produces files with no recorded bucket, dropping the spec.
    publishMeta(spark, root, tag = "", requireHead = headV,
      clustering = h =>
        if (cowFiles.isEmpty) h.flatMap(_.clustering) else None) { head =>
      val h = head.getOrElse(sys.error("delete base vanished"))
      (carried ++ newRefs ++ dvShardRefs, h.schema)
    }
  }

  /** ANALYZE for the snapshot layer: (re)build the per-file stats (and
    * optionally bloom) index for `statsCols`/`bloomCols` over the HEAD
    * snapshot with ONE distributed read pass and a METADATA-ONLY commit —
    * no data file is rewritten or moved. The ops verb the 100 TB path
    * needs: a table committed without an index (or before a column
    * mattered) gains pruning, metadata counts, and SUM/MIN/MAX/grouped
    * aggregate pushdown for the cost of a scan, where the only
    * alternative today — [[compact]] — rewrites every byte.
    *
    * INCREMENTAL (round 18): the read pass covers ONLY files missing a
    * full-fidelity entry for some requested column — an entry as capable
    * as a fresh scan's (string bounds for string columns; an exact
    * recorded SUM for integral/decimal columns — footer-mined write-time
    * entries lack one, so ANALYZE heals them into SUM pushdown). Covered
    * files' entries carry verbatim: stats describe immutable write-once
    * parquet, so a recorded entry can never be stale. Cost is therefore
    * ∝ index DECAY, not table size — declaring one new column on a
    * 100 TB table scans that column's stat-less files, not every byte.
    * Shards with nothing to heal carry BY REFERENCE (zero metadata
    * churn); a fully-covered request with the declaration already grown
    * is a version-less no-op. Round 19 closed the all-null corner: a
    * file whose requested column produces no range (all-null, all-NaN)
    * records a no-range TOMBSTONE ([[ColStats.nr]]) and a decimal(38)
    * sum overflow the "!" sentinel, so by-design absence is
    * distinguishable from decay and repeated ANALYZE is O(metadata).
    * `force = true` restores the old semantics: re-scan and REPLACE
    * everything.
    *
    * Per rewritten shard, entries for the healed (file, column) pairs are
    * replaced and everything else (row counts with their recorded byte
    * sizes, deletion vectors, other columns' stats and blooms) carries
    * through the metadata rewrite; file lists are untouched, so
    * clustering and bucket purity survive. Stats cover each file's
    * PHYSICAL rows (deletion vectors included — same contract as
    * write-time stats: pruning stays a superset, extremes decline under
    * vectors). */
  def reindexStats(
      spark: SparkSession,
      root: String,
      statsCols: Seq[String],
      bloomCols: Seq[String] = Seq.empty,
      force: Boolean = false): Long = {
    val headV = headVersion(spark, root)
    require(headV > 0, s"no snapshot committed at $root yet")
    require(statsCols.nonEmpty || bloomCols.nonEmpty,
      "reindexStats needs at least one column to index")
    val meta = manifestMeta(spark, root, headV)
    val shards = loadShards(spark, root, meta)
    val m = resolve(meta, shards)
    if (m.files.isEmpty) return headV
    val schema = parseSchema(m)
    val toPhys = logicalToPhysical(schema)
    val statsP = statsCols.map(c => toPhys.getOrElse(c, c))
    val bloomP = bloomCols.map(c => toPhys.getOrElse(c, c))
    // column type by PHYSICAL name, for the fresh-capability check
    val physType: Map[String, DataType] =
      schema.fields.iterator.map(f => physicalOf(f) -> f.dataType).toMap
    // is this recorded entry everything a fresh scan would produce? A
    // capability mismatch (numeric bounds on a string column, a missing
    // SUM on a summable one) marks the file for re-scan.
    // a TOMBSTONE ([[ColStats.nr]]) is everything a fresh scan would
    // produce — the scan already ran and proved no range/sum exists, so
    // the file is covered, not decayed (the round-19 fix for "every
    // ANALYZE re-scans all-null files forever"). The "!" sum sentinel
    // counts as a recorded sum for the same reason: tried, unrecordable.
    def capable(st: ColStats): Boolean = st.nr || (physType.get(st.col) match {
      case Some(StringType) => st.slo != null
      case Some(ByteType | ShortType | IntegerType | LongType |
                _: DecimalType) => st.slo == null && st.sumS != null
      case _ => st.slo == null
    })
    // per shard: which files lack a full-fidelity entry for some requested
    // stats column / a bloom for some requested bloom column
    val (needS, needB) = {
      val s = Seq.newBuilder[String]; val b = Seq.newBuilder[String]
      shards.foreach { sh =>
        val covered: Map[String, Set[String]] = sh.stats
          .filter(capable)
          .groupBy(_.file).map { case (f, sts) => f -> sts.map(_.col).toSet }
        val bloomed: Map[String, Set[String]] =
          sh.blooms.groupBy(_.file).map { case (f, bs) => f -> bs.map(_.col).toSet }
        sh.files.foreach { u =>
          val n = new Path(u).getName
          if (force || !statsP.forall(covered.getOrElse(n, Set.empty))) s += u
          if (bloomP.nonEmpty &&
              (force || !bloomP.forall(bloomed.getOrElse(n, Set.empty)))) b += u
        }
      }
      (s.result(), b.result())
    }
    val declared = meta.indexed.exists { case (hs, hb) =>
      statsP.forall(hs.contains) && bloomP.forall(hb.contains) }
    // row counts must be complete too: the shard loop's row-gap heal
    // (footer-read, metadata I/O only) is what completes rowsComplete for
    // the metadata COUNT surface, and the no-op must not skip it forever
    val rowsComplete = shards.forall { sh =>
      val known = sh.rows.iterator.map(_.file).toSet
      sh.files.forall(u => known.contains(new Path(u).getName))
    }
    // fully covered, already declared, counts complete: ANALYZE verified
    // the index in O(metadata) — no scan, no commit
    if (needS.isEmpty && needB.isEmpty && declared && rowsComplete) return headV
    val (newStats, newRows) =
      if (needS.isEmpty) (Seq.empty[ColStats], Seq.empty[FileRows])
      else collectStats(spark, needS, statsP)
    val newBlooms =
      if (needB.isEmpty) Seq.empty[FileBloom]
      else {
        val physSchema = spark.read.parquet(needB: _*).schema
        val newRowsByF = newRows.map(r => r.file -> r).toMap
        val oldRowsByF = m.rows.map(r => r.file -> r).toMap
        val rowsForEst = needB.flatMap { u =>
          val n = new Path(u).getName
          newRowsByF.get(n).orElse(oldRowsByF.get(n))
        }
        val est =
          if (rowsForEst.size == needB.size) rowsForEst
          else rowsForEst ++ rowsFromFooters(spark,
            needB.filterNot(u => rowsForEst.exists(_.file == new Path(u).getName)))
        collectBlooms(spark, needB, bloomP, physSchema, Map.empty, est)
      }
    val statsByFile = newStats.groupBy(_.file)
    val bloomsByFile = newBlooms.groupBy(_.file)
    val rowsByFileNew = newRows.map(r => r.file -> r).toMap
    val scannedS = needS.map(u => new Path(u).getName).toSet
    val scannedB = needB.map(u => new Path(u).getName).toSet
    val refs = shards.map { sh =>
      val names = sh.files.map(u => new Path(u).getName)
      val oldRowsByName = sh.rows.map(r => r.file -> r).toMap
      // untouched shards carry by reference; a shard with a count-less
      // file rewrites too (writeShard fills the row gap from footers —
      // metadata I/O only), so one healed pass also completes
      // rowsComplete for the metadata COUNT surface
      val touched = names.exists(n => scannedS(n) || scannedB(n)) ||
        names.exists(n => !oldRowsByName.contains(n))
      if (!touched) sh.ref
      else {
        // old entries survive unless this reindex re-scanned their file for
        // their column
        val keptStats = sh.stats.filterNot(st =>
          statsP.contains(st.col) && scannedS(st.file))
        val addStats = names.flatMap(n => statsByFile.getOrElse(n, Seq.empty))
        val keptBlooms = sh.blooms.filterNot(b =>
          bloomP.contains(b.col) && scannedB(b.file))
        val addBlooms = names.flatMap(n => bloomsByFile.getOrElse(n, Seq.empty))
        // old row entries win (they carry recorded byte sizes); new ones
        // only fill gaps (count-less shards)
        val rws = names.flatMap(n => oldRowsByName.get(n).orElse(rowsByFileNew.get(n)))
        writeShard(spark, root, sh.files, keptStats ++ addStats, rws,
          keptBlooms ++ addBlooms, sh.dvs)
      }
    }
    // metadata-only, file list unchanged: clustering carries. The head's
    // INDEX DECLARATION must grow by the reindexed columns, or the next
    // append would record no stats for them and the fresh index would
    // silently decay back to must-scan (one stat-less file declines every
    // metadata answer).
    publishMeta(spark, root, tag = "", requireHead = headV,
      clustering = h => h.flatMap(_.clustering),
      indexed = h => {
        val (hs, hb) = h.flatMap(_.indexed).getOrElse((Seq.empty, Seq.empty))
        Some(((hs ++ statsP).distinct, (hb ++ bloomP).distinct))
      }) { head =>
      val h = head.getOrElse(sys.error("reindex base vanished"))
      (refs, h.schema)
    }
  }

  /** Materialize deletion vectors back into clean files: every file whose
    * deleted fraction is ≥ `minFraction` (default: any vector at all) is
    * rewritten without its deleted rows and its vector retired — the
    * maintenance half of the merge-on-read bargain, bounding permanent
    * scan amplification. Untouched files (and files with lighter vectors)
    * carry by reference; no-op (no new version) when nothing qualifies.
    * [[compact]]/[[compactZOrder]] also materialize as a side effect of
    * their full rewrite — this is the targeted version that touches ONLY
    * vector-bearing files. */
  def materializeDvs(
      spark: SparkSession,
      root: String,
      minFraction: Double = 0.0,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Long = {
    val headV = headVersion(spark, root)
    require(headV > 0, s"no snapshot committed at $root yet")
    val meta = manifestMeta(spark, root, headV)
    val shards = loadShards(spark, root, meta)
    val m = resolve(meta, shards)
    val rowsByName = m.rows.map(r => r.file -> r.n).toMap
    val targets = m.dvs.filter { d =>
      d.deleted > 0 && (minFraction <= 0.0 ||
        rowsByName.get(d.file).forall(n => n <= 0L || d.deleted.toDouble / n >= minFraction))
    }
    if (targets.isEmpty) return headV
    val names = targets.map(_.file).toSet
    val files = m.files.filter(u => names.contains(new Path(u).getName))
    val survivors = readFiles(spark, m, files) // DVs applied
    val toPhys = logicalToPhysical(parseSchema(m))
    val (written, newStats, newRows, newBlooms) =
      writeBatch(survivors, root, statsCols, toPhys, bloomCols)
    val newRef = writeShard(spark, root, written, newStats, newRows, newBlooms)
    testPrePublishHook()
    // DV materialization is a row-preserving rewrite of its target files —
    // same optimize-tagged, rebase-on-race publish as compactWhere
    publishRewriteOutput(spark, root, headV, m, files.toSet, newRef)
  }

  /** One scan of the freshly-written files (only — never the table) for
    * per-file min/max + null count of the requested columns (numeric
    * cast-to-double; temporal natively, converted to canonical units) AND
    * per-file row counts — one aggregation row per file, counts riding the
    * same pass for free. `paths` may be a directory (the write-batch case)
    * or an explicit file list (the [[convertInPlace]] adoption case) —
    * either way the scan is exactly those files, distributed. With no
    * statsCols there is no scan at all: (empty, empty), and [[writeShard]]
    * fills row counts from parquet footers instead. */
  private def collectStats(
      spark: SparkSession,
      paths: Seq[String],
      statsCols: Seq[String]): (Seq[ColStats], Seq[FileRows]) = {
    if (statsCols.isEmpty) return (Seq.empty, Seq.empty)
    import org.apache.spark.sql.functions._
    val src = spark.read.parquet(paths: _*)
    val fieldTypes = src.schema.fields.map(f => f.name -> f.dataType).toMap
    // temporal columns aggregate NATIVELY — their double cast is refused
    // (NTZ, date) or the wrong unit (LTZ cast-to-double yields fractional
    // seconds) — and convert on the DRIVER to the canonical double the
    // whole index speaks: timestamps as epoch MICROS (exact in a double to
    // ±2^53 ≈ ±285 years, so equality/top-n/min-max pushdowns stay
    // EXACT where a rounded-seconds canon would decline), dates as epoch
    // DAYS.
    def temporal(c: String): Boolean = fieldTypes.get(c).exists {
      case org.apache.spark.sql.types.TimestampType => true
      case org.apache.spark.sql.types.TimestampNTZType => true
      case org.apache.spark.sql.types.DateType => true
      case _ => false
    }
    // string columns aggregate natively too: their min/max land in the
    // stats entry's slo/shi bounds (UTF8-byte order — Spark's string
    // min/max and the parquet comparator agree), funding prefix/equality
    // file pruning where the numeric index is blind
    def stringy(c: String): Boolean =
      fieldTypes.get(c).contains(org.apache.spark.sql.types.StringType)
    // integral/decimal columns additionally record an EXACT per-file SUM
    // (decimal(38) accumulation, try_sum → null on the unrealistic 38-digit
    // overflow = not recorded): the metadata behind SUM aggregate pushdown.
    // Floats/doubles never (order-dependent rounding), temporals never
    // (summing timestamps is meaningless).
    def summable(c: String): Option[Int] = fieldTypes.get(c).collect {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => 0
      case d: org.apache.spark.sql.types.DecimalType => d.scale
    }
    val aggs = statsCols.flatMap(c => Seq(
      (if (temporal(c) || stringy(c)) min(col(c)) else min(col(c).cast("double"))).as(s"min_$c"),
      (if (temporal(c) || stringy(c)) max(col(c)) else max(col(c).cast("double"))).as(s"max_$c"),
      count(col(c)).as(s"cnt_$c")) ++
      summable(c).map(sc => try_sum(col(c)
        .cast(org.apache.spark.sql.types.DecimalType(38, sc))).as(s"sum_$c"))) :+
      count(lit(1)).as("__rows")
    val rowsOut = src
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .toSeq
    val stats = rowsOut.flatMap { row =>
      // key by basename: part-file names carry a per-task UUID (globally
      // unique), and input_file_name()'s URI rendering (file:///) differs
      // from listStatus's (file:/) — basenames sidestep the mismatch
      val file = new Path(row.getAs[String]("__f")).getName
      val nRows = row.getAs[Long]("__rows")
      statsCols.flatMap { c =>
        val lo = row.getAs[Any](s"min_$c")
        val hi = row.getAs[Any](s"max_$c")
        // scanned, nothing producible → a TOMBSTONE, not absence: the
        // incremental reindex must be able to tell "no range by design"
        // (all-null, all-NaN) from decay, or every ANALYZE re-scans the
        // file forever. The nulls count is real; bounds are inert.
        def tomb = Some(ColStats(file, c, 0, 0,
          nulls = nRows - row.getAs[Long](s"cnt_$c"), nr = true))
        if (lo == null || hi == null) tomb // all-null file: no usable range
        else if (stringy(c))
          Some(ColStats(file, c, 0, 0,
            nulls = nRows - row.getAs[Long](s"cnt_$c"),
            slo = lo.asInstanceOf[String], shi = hi.asInstanceOf[String]))
        else {
          def canonical(v: Any): Double = v match {
            case d: java.lang.Double => d
            case ldt: java.time.LocalDateTime => // NTZ wall-clock micros
              (ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
                ldt.getNano / 1000L).toDouble
            case i: java.time.Instant => // LTZ epoch micros (java8 API on)
              org.apache.spark.sql.catalyst.util.DateTimeUtils
                .instantToMicros(i).toDouble
            case t: java.sql.Timestamp => // LTZ epoch micros (java8 API off)
              org.apache.spark.sql.catalyst.util.DateTimeUtils
                .fromJavaTimestamp(t).toDouble
            case ld: java.time.LocalDate => ld.toEpochDay.toDouble
            case d: java.sql.Date => d.toLocalDate.toEpochDay.toDouble
            case n: Number => n.doubleValue
            case other => sys.error(s"unexpected stats value $other")
          }
          val (l, h) = (canonical(lo), canonical(hi))
          // a null try_sum here is the decimal(38) OVERFLOW (the all-null
          // case returned above): record the "!" sentinel so reindex
          // knows the sum was tried and is unrecordable — consumers read
          // it as "no sum" ([[recordedSum]]), never as a number
          val sumS = summable(c)
            .map(_ => Option(row.getAs[java.math.BigDecimal](s"sum_$c"))
              .map(_.toPlainString).getOrElse("!")).orNull
          // a NaN/infinite bound can't prune soundly AND won't round-trip
          // as a JSON number — tombstone (all-NaN float file: no range by
          // design, and re-scanning would reproduce the same NaN bounds)
          if (java.lang.Double.isFinite(l) && java.lang.Double.isFinite(h))
            Some(ColStats(file, c, l, h,
              nulls = nRows - row.getAs[Long](s"cnt_$c"), sumS = sumS))
          else tomb
        }
      }
    }
    val fileRows = rowsOut.map { row =>
      FileRows(new Path(row.getAs[String]("__f")).getName, row.getAs[Long]("__rows"))
    }
    (stats, fileRows)
  }

  /** The recorded per-file SUM as a number, if one is usable: None for
    * never-recorded (footer-mined) AND for the "!"
    * tried-but-unrecordable sentinel (decimal(38) overflow). Every
    * consumer of [[ColStats.sumS]] must come through here. */
  def recordedSum(st: ColStats): Option[java.math.BigDecimal] =
    Option(st.sumS).filter(_ != "!").map(new java.math.BigDecimal(_))

  /** The subset of `m.files` a [lo, hi] range predicate on `c` can touch:
    * files whose recorded range overlaps, plus files with no recorded range
    * (pruning must stay conservative). Spark orders NaN above +inf, so no
    * NaN row lies in a band; but recorded float/double bounds are
    * NaN-blind, so a caller probing `c > x` as [x, +inf] must not prune
    * with them ([[StatsPredicate]]'s NaN-blind rule). */
  def candidateFiles(m: Manifest, c: String, lo: Double, hi: Double): Seq[String] = {
    // slo-bearing entries are STRING bounds whose min/max are inert
    // placeholders — a numeric probe must never read them
    val ranges = m.stats.filter(s => s.col == c && s.slo == null)
      .map(s => s.file -> s).toMap
    m.files.filter { f =>
      ranges.get(new Path(f).getName) match {
        case Some(s) => s.min <= hi && s.max >= lo
        case None => true
      }
    }
  }

  /** Key-SET pruning: the files whose recorded `c` range contains at least
    * one of `keys` (sorted ascending). For a scattered key set — the
    * right-to-erasure shape, keys spread across the table — the set's
    * global [min, max] covers nearly every file, but each FILE's tight
    * range (z-order/range-clustered layouts) contains few or none of the
    * keys, so per-file membership prunes orders of magnitude harder.
    * O(|files| · log |keys|); stat-less files stay conservative. The
    * search compares as Spark does, so -0.0 and 0.0 are one key
    * (`Arrays.binarySearch` orders -0.0 first and would miss a 0.0 file
    * probed by -0.0). */
  def candidateFilesForKeys(m: Manifest, c: String, keys: Array[Double]): Seq[String] = {
    val ranges = m.stats.filter(s => s.col == c && s.slo == null)
      .map(s => s.file -> s).toMap
    m.files.filter { f =>
      ranges.get(new Path(f).getName) match {
        case Some(s) =>
          // the first key >= s.min
          var lo = 0
          var hi = keys.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (keys(mid) < s.min) lo = mid + 1 else hi = mid
          }
          lo < keys.length && keys(lo) <= s.max
        case None => true
      }
    }
  }

  /** Bloom pruning for STRING key sets: a file survives if it has no
    * recorded bloom for `c` (conservative), or its bloom admits at least
    * one of `keys`. No false negatives by construction — a rejected file
    * provably holds none of the keys — so this only SHRINKS rewrite/read
    * sets, exactly like the numeric stats index. Cost: |keys| hashes once,
    * then per pruned file |keys| x k bit probes driver-side (~1e5/ms);
    * keys are capped by the probe's driver cap. */
  def candidateFilesForStrings(m: Manifest, c: String, keys: Array[String]): Seq[String] = {
    val byFile = m.blooms.filter(_.col == c).map(b => b.file -> b).toMap
    if (byFile.isEmpty) return m.files
    val hashes = keys.map(k =>
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(k),
        org.apache.spark.sql.types.StringType, 42L))
    m.files.filter { f =>
      byFile.get(new Path(f).getName) match {
        case Some(b) =>
          val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(
              java.util.Base64.getDecoder.decode(b.b64)))
          hashes.exists(bf.mightContainLong)
        case None => true
      }
    }
  }

  /** STRING band pruning over the slo/shi bounds (round 15): the files
    * whose recorded string range intersects `[lo, hiExclusive)` —
    * `hiExclusive = None` means unbounded above. Comparisons run in
    * UTF8-BYTE order ([[org.apache.spark.unsafe.types.UTF8String]]), the
    * order the bounds were collected in (Spark string min/max, parquet
    * binary comparator) — java.lang.String's UTF-16 order disagrees on
    * supplementary characters and must never touch this index. Files
    * without recorded bounds stay conservative. Serves prefix predicates
    * (`[p, nextPrefix(p))`), equality (`[v, v+"\u0000")`), and IN sets. */
  def candidateFilesForStringBand(
      m: Manifest, c: String, lo: String, hiExclusive: Option[String]): Seq[String] = {
    import org.apache.spark.unsafe.types.UTF8String
    val ranges = m.stats.filter(s => s.col == c && s.slo != null)
      .map(s => s.file -> s).toMap
    if (ranges.isEmpty) return m.files
    val loU = UTF8String.fromString(lo)
    val hiU = hiExclusive.map(UTF8String.fromString)
    m.files.filter { f =>
      ranges.get(new Path(f).getName) match {
        case Some(s) =>
          UTF8String.fromString(s.shi).compareTo(loU) >= 0 &&
            hiU.forall(h => UTF8String.fromString(s.slo).compareTo(h) < 0)
        case None => true
      }
    }
  }

  private[engine] sealed trait KeyProbe
  private[engine] case object KeysEmpty extends KeyProbe
  /** A key set that fits the driver cap: `ks` as the stats index's sorted
    * doubles, `keys` as the batch typed them (the exact filter's values). */
  private[engine] final case class KeysSmall(ks: Array[Double], keys: RowFilters.KeySet)
      extends KeyProbe
  /** A key set past the driver cap: its global [lo, hi], from keys of type `dt`. */
  private[engine] final case class KeysRange(lo: Double, hi: Double)(val dt: DataType) extends KeyProbe
  private[engine] case object KeysOpaque extends KeyProbe
  /** Opaque (non-numeric) keys that FIT the driver cap, carried as their
    * string values: the [[FileBloom]] index can prune per file where the
    * numeric stats index cannot see at all. */
  private[engine] final case class KeysOpaqueSmall(ks: Array[String], keys: RowFilters.KeySet)
      extends KeyProbe

  /** The files of `m` whose recorded `c` stats or bloom cannot rule out
    * every probed key: per-file key membership, the global range past the
    * driver cap, the bloom for opaque keys, every file when nothing
    * indexes them or the keys' type does not speak the index's unit
    * ([[RowFilters.keysPrune]]), and none for an empty probe (callers that
    * treat an empty batch otherwise decide that first). */
  private[engine] def candidateFilesForProbe(
      m: Manifest, c: String, probe: KeyProbe): Seq[String] = {
    def prunes(keyType: DataType, bloom: Boolean): Boolean =
      parseSchema(m).fields.find(_.name == c).forall(f => RowFilters.keysPrune(f.dataType, keyType, bloom))
    probe match {
      case KeysEmpty => Seq.empty
      case KeysSmall(ks, keys) if prunes(keys.dt, bloom = false) => candidateFilesForKeys(m, c, ks)
      case r @ KeysRange(lo, hi) if prunes(r.dt, bloom = false) => candidateFiles(m, c, lo, hi)
      case KeysOpaqueSmall(ks, keys) if prunes(keys.dt, bloom = true) => candidateFilesForStrings(m, c, ks)
      case _ => m.files
    }
  }

  /** `rows` restricted to (`anti = false`) or stripped of (`anti = true`)
    * the rows whose `c` equals a key of `keys`' column `c`, where `probe`
    * is the probe of that same frame. A small probe carries the keys, and
    * where [[RowFilters]] proves its `IN` filter equal to the join, the
    * filter runs inside the scan of `rows`: no second run of `keys`' plan,
    * no distinct, no join stage. Range and opaque probes, float keys and
    * mismatched key types join. */
  private[engine] def keyed(
      rows: DataFrame, c: String, probe: KeyProbe, keys: DataFrame, anti: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    val colType = rows.select(col(c)).schema.head.dataType
    val filter = probe match {
      case KeysSmall(_, ks) => Some(ks)
      case KeysOpaqueSmall(_, ks) => Some(ks)
      case _ => None
    }
    filter.flatMap(ks =>
      if (anti) RowFilters.keyNotIn(c, colType, ks) else RowFilters.keyIn(c, colType, ks)) match {
      case Some(f) => rows.filter(f)
      case None =>
        rows.join(keys.select(col(c)).distinct(), Seq(c), if (anti) "left_anti" else "left_semi")
    }
  }

  /** Classify a batch's key column for file pruning. Numeric(-castable)
    * keys prune: by sorted distinct set when it fits the driver cap (one
    * small job — the build-side pattern), by global [min, max] otherwise
    * (still sound, less tight). A key the double cast nulls out on
    * non-null input (string doc-ids/hashes — a primary corpus-lake shape)
    * is OPAQUE: the ColStats index is numeric-only, so no pruning is
    * possible and every file is a candidate — conservative, never wrong.
    * A probe within the cap also carries the keys typed as `keysDf` types
    * them, for [[keyed]]'s exact filter. A batch whose plan optimizes to a
    * driver-resident relation (every in-memory frame) is collected with no
    * job and deduplicated on the driver. */
  private[engine] def probeKeys(keysDf: DataFrame, key: String): KeyProbe = {
    import org.apache.spark.sql.functions.{col, min, max, unix_micros}
    // try_cast, not cast: under ANSI semantics a malformed string THROWS
    // from cast — the probe's whole job is to observe the null instead.
    // LTZ timestamp keys must speak the index's canonical unit — exact
    // epoch MICROS (cast-to-double would yield fractional seconds) — and
    // date keys epoch DAYS (the per-day upsert/delete shape; the plain
    // double cast refuses dates, which CRASHED the probe's analysis — the
    // refusal is an AnalysisException even under try_cast, not a null).
    // NTZ keys go opaque EXPLICITLY for the same reason: wall-clock micros
    // would need a session-zone-independent conversion the function
    // library doesn't offer, and the naive cast throws at analysis rather
    // than degrading (conservative: every file is a candidate, never
    // wrong).
    val keyType = keysDf.select(col(key)).schema.head.dataType
    val casted = keyType match {
      case org.apache.spark.sql.types.TimestampType =>
        unix_micros(col(key)).cast("double")
      case org.apache.spark.sql.types.DateType =>
        org.apache.spark.sql.functions.unix_date(col(key)).cast("double")
      case org.apache.spark.sql.types.TimestampNTZType =>
        org.apache.spark.sql.functions.lit(null).cast("double")
      case _ => col(key).try_cast("double")
    }
    // the exact filter's keys: dates and LTZ timestamps as their epoch days
    // and micros, which round-trip exactly (a collect's java.sql values go
    // through the hybrid calendar and the JVM's zone)
    val exact = keyType match {
      case org.apache.spark.sql.types.DateType => org.apache.spark.sql.functions.unix_date(col(key))
      case org.apache.spark.sql.types.TimestampType => unix_micros(col(key))
      case _ => col(key)
    }
    val MaxDriverKeys = 100000
    // ONE job in the common case: the distinct (string, cast) pairs up
    // to the driver cap decide emptiness, opacity, AND the key set in a
    // single pass. Each probe job re-executes the caller's batch plan,
    // which may be deep — the keyed-incremental fold reads state files +
    // the source delta — so job count here is commit latency, spec-pinned
    // (CommitJobsSpec).
    val sel = keysDf.filter(col(key).isNotNull)
      .select(col(key).cast("string").as("__s"), casted.as("__c"), exact.as("__k"))
    val rows = sel.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        sel.collect().distinct.take(MaxDriverKeys + 1)
      case _ => sel.distinct().limit(MaxDriverKeys + 1).collect()
    }
    if (rows.isEmpty) return KeysEmpty
    val keySet = RowFilters.KeySet(keyType, rows.map(_.get(2)))
    if (rows.exists(_.isNullAt(1))) {
      // non-numeric values present: the range/set index is useless, but a
      // capped distinct STRING set can still prune through file blooms
      if (rows.length > MaxDriverKeys) return KeysOpaque
      val ks = rows.map(_.getString(0))
      scala.util.Sorting.quickSort(ks)
      return KeysOpaqueSmall(ks, keySet)
    }
    if (rows.length > MaxDriverKeys) {
      // over the cap: the (rare) second pass fetches the global range —
      // and re-checks opacity over the WHOLE batch, because the capped
      // sample above cannot prove the absence of non-numeric keys (a few
      // opaque values hiding past the cap would otherwise let a numeric
      // range prune away exactly the files holding their rows)
      import org.apache.spark.sql.functions.{count, lit}
      val r = keysDf.filter(col(key).isNotNull)
        .agg(min(casted), max(casted), count(lit(1)), count(casted)).head()
      if (r.getLong(2) != r.getLong(3)) KeysOpaque
      else KeysRange(r.getDouble(0), r.getDouble(1))(keyType)
    } else {
      val ks = rows.map(_.getDouble(1))
      java.util.Arrays.sort(ks)
      KeysSmall(ks, keySet)
    }
  }

  /** Range read through the manifest index: prune the file list to the
    * overlapping files, then apply the predicate exactly. Result is
    * identical to filtering a full read — the index only shrinks the scan
    * (at lake scale: from every-file to the z-order/cluster-tight sliver). */
  def readRange(
      spark: SparkSession,
      root: String,
      c: String,
      lo: Double,
      hi: Double,
      version: Long = -1L): DataFrame = {
    import org.apache.spark.sql.functions.col
    val v = if (version >= 0) version else headVersion(spark, root)
    require(v > 0, s"no snapshot committed at $root yet")
    val m = manifest(spark, root, v)
    val keep = candidateFiles(m, c, lo, hi)
    // the exact filter speaks the column's own type: temporal columns
    // refuse the double cast (and canonical bounds are micros/days for
    // them), so the literal converts instead of the column
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    val dt = parseSchema(m).apply(c).dataType
    def bnd(x: Double): org.apache.spark.sql.Column = dt match {
      case TimestampNTZType =>
        val us = Math.round(x) // canonical micros, exact to ±2^53
        lit(java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC))
      case TimestampType =>
        val us = Math.round(x) // canonical micros, exact to ±2^53
        lit(java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
          Math.floorMod(us, 1000000L) * 1000L))
      case DateType =>
        lit(java.time.LocalDate.ofEpochDay(x.toLong))
      case _ => lit(x)
    }
    val pred = dt match {
      case TimestampNTZType | TimestampType | DateType =>
        col(c) >= bnd(lo) && col(c) <= bnd(hi)
      case _ => col(c).cast("double") >= lo && col(c).cast("double") <= hi
    }
    // every file pruned: an empty relation carrying the recorded schema
    if (keep.isEmpty) readFiles(spark, m, Seq.empty)
    else readFiles(spark, m, keep).filter(pred)
  }

  /** Predicate-driven read: the caller passes an ARBITRARY filter
    * `Column` — the same expression they'd hand to `.filter` — and the
    * manifest stats index prunes the file list automatically before the
    * scan, with the full predicate still applied exactly afterwards. This
    * is [[readRange]]'s UX fixed: no hand-lifting of bounds into (col,
    * lo, hi) arguments, no knowledge of which columns carry stats; the
    * pruner reads the ANALYZED Catalyst predicate (so it sees exactly
    * what the engine will evaluate, casts and all) and judges it with
    * [[StatsPredicate]]'s overlap face:
    *
    *  - `a && b` prunes by both sides, `a || b` by the union of both
    *    (an OR prunes only when both sides can be judged);
    *  - `<col> {<,<=,>,>=,=,<=>} <literal>` (either operand order) on a
    *    stats column tightens that column's band; string columns prune
    *    through their bounds and blooms, `startsWith` through its band;
    *  - `IN (literals)` prunes by per-file key-set membership
    *    ([[candidateFilesForKeys]] — tighter than the list's envelope);
    *  - IS [NOT] NULL prunes through recorded null counts and all-null
    *    tombstones;
    *  - widening numeric casts around the column (the analyzer's own
    *    comparison coercions) are looked through, and `cast(ntz as date)`
    *    and `year(date)` prune as monotone transforms; truncating casts
    *    are NOT unwrapped (double→int is not order-faithful against
    *    raw-column stats);
    *  - anything else — other functions of the column, opaque string
    *    predicates — contributes NO pruning and the file survives.
    *    Conservative, never wrong.
    *
    * Result ≡ `read(...).filter(cond)` by construction (spec-pinned,
    * including randomized predicates), the index only shrinks the scan. At lake
    * scale this is the difference between "the analyst's WHERE clause
    * reads the z-order sliver" and "the analyst knew to call the right
    * pruning API". */
  def readWhere(
      spark: SparkSession,
      root: String,
      cond: org.apache.spark.sql.Column,
      version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version else headVersion(spark, root)
    require(v > 0, s"no snapshot committed at $root yet")
    val m = manifest(spark, root, v)
    if (m.stats.isEmpty && m.blooms.isEmpty) return readFiles(spark, m, m.files).filter(cond)
    // mine against an EMPTY relation carrying the manifest schema, as
    // countWhere does: the one scan built is over the kept files
    val probe = readFiles(spark, m, Seq.empty).filter(cond)
    val keep = statsPredicate(probe).fold(m.files)(StatsPredicate.overlap(m, _))
    // no file can satisfy the mined constraints: the empty relation
    if (keep.isEmpty) probe else readFiles(spark, m, keep).filter(cond)
  }

  /** The [[StatsPredicate]] of `filtered`'s ANALYZED filter condition, so
    * the stats judge exactly what the engine will evaluate, casts and all.
    * None when no stats can judge any part of it. */
  private def statsPredicate(filtered: DataFrame): Option[StatsPredicate.Pred] =
    filtered.queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }
      .flatMap(StatsPredicate.fromExpr)

  /** The table's exact row count in O(metadata) — no data file opened, no
    * Spark job. Some(n) when every file in version v carries a recorded
    * per-file count (every shard this engine writes does — see
    * [[writeShard]]); None when some file's footer was unreadable at
    * commit, where only a scan can answer. The 100 TB reading: `count(*)` is a manifest fold, the same
    * O(1)-per-commit bookkeeping that lets engines like Iceberg/Delta
    * answer it without touching a single data object. */
  def rowCount(spark: SparkSession, root: String, version: Long = -1L): Option[Long] = {
    val v = if (version >= 0) version else headVersion(spark, root)
    require(v > 0, s"no snapshot committed at $root yet")
    val m = manifest(spark, root, v)
    val byName = m.rows.map(r => r.file -> r.n).toMap
    val names = m.files.map(f => new Path(f).getName)
    if (!names.forall(byName.contains)) None
    else {
      // deletion vectors subtract exactly: physical counts minus per-file
      // deleted cardinalities — still O(metadata)
      val nameSet = names.toSet
      val deleted = m.dvs.filter(d => nameSet.contains(d.file)).map(_.deleted).sum
      Some(names.map(byName).sum - deleted)
    }
  }

  /** Exact `count(*) WHERE cond` with the metadata answering everything it
    * can: files the predicate ACCEPTS ([[StatsPredicate.accept]] — stats
    * recorded, zero nulls in the compared columns, strict bounds honored;
    * none while any conjunct is opaque) contribute their recorded row
    * counts with no I/O, files outside its overlap contribute nothing, and
    * only the boundary files are scanned with the untouched predicate. Exact by construction at every degradation level; a band
    * query over a range-clustered table counts millions of interior rows
    * from the manifest and scans two edge files. */
  def countWhere(
      spark: SparkSession,
      root: String,
      cond: org.apache.spark.sql.Column,
      version: Long = -1L): Long = {
    val v = if (version >= 0) version else headVersion(spark, root)
    require(v > 0, s"no snapshot committed at $root yet")
    val m = manifest(spark, root, v)
    if (m.files.isEmpty) return 0L
    // one map-only job: per-partition row counts, summed on the driver
    // (`Dataset.count` aggregates through an exchange, two jobs under AQE)
    def scanCount(files: Seq[String]): Long =
      readFiles(spark, m, files).filter(cond).select()
        .mapPartitions(it => Iterator.single(it.size.toLong))(org.apache.spark.sql.Encoders.scalaLong)
        .collect().sum
    if (m.stats.isEmpty && m.blooms.isEmpty) return scanCount(m.files)
    // mine against an EMPTY relation carrying the manifest schema: analysis
    // must not touch (or even list) data files — a fully-metadata answer
    // works with every data object unreachable
    val probe = readFiles(spark, m, Seq.empty).filter(cond)
    val pred = statsPredicate(probe).getOrElse(return scanCount(m.files))
    val overlap = StatsPredicate.overlap(m, pred).toSet
    val fullSet = StatsPredicate.accept(m, pred)
    val rowsByName = m.rows.map(r => r.file -> r.n).toMap
    // a fully-accepted file without a recorded count degrades to the scan —
    // as does one carrying a deletion vector (which deleted rows fell where
    // is unknowable from metadata; the scan path applies the vector exactly)
    val dvNames = m.dvs.filter(_.deleted > 0).map(_.file).toSet
    val metaFiles = fullSet.filter { f =>
      val n = new Path(f).getName
      rowsByName.contains(n) && !dvNames.contains(n)
    }
    val metaCount = metaFiles.toSeq.map(f => rowsByName(new Path(f).getName)).sum
    val scanFiles = m.files.filter(f => overlap.contains(f) && !metaFiles.contains(f))
    if (scanFiles.isEmpty) metaCount
    else metaCount + scanCount(scanFiles)
  }

  /** The column's table-wide [min, max] (as the recorded double-cast
    * values, in the index's canonical units: timestamps exact epoch
    * MICROS, dates epoch days) in O(metadata). Some iff every file either
    * carries recorded stats for `c`, provably holds zero rows, or is
    * provably all-null (round-19 tombstone, nulls == rows — contributes
    * nothing to min/max). A file with rows but no usable range
    * (stat-less commit, or a NaN tombstone — NaN rows DO participate in
    * Spark's min/max ordering) makes the answer unknowable ⇒ None. Null
    * values never participate in min/max, so partial-null files with
    * stats are exact. */
  def statsRange(
      spark: SparkSession,
      root: String,
      c: String,
      version: Long = -1L): Option[(Double, Double)] = {
    val v = if (version >= 0) version else headVersion(spark, root)
    require(v > 0, s"no snapshot committed at $root yet")
    val m = manifest(spark, root, v)
    // string-bound entries (slo set) carry placeholder min/max — this is a
    // NUMERIC range API, so they read as "no recorded range" (None)
    val byFile = m.stats.filter(s => s.col == c && s.slo == null)
      .map(s => s.file -> s).toMap
    val rowsByName = m.rows.map(r => r.file -> r.n).toMap
    val names = m.files.map(f => new Path(f).getName)
    // a deletion vector may have removed the extreme rows a file's recorded
    // range rests on — the exact answer is unknowable from metadata
    if (m.dvs.exists(d => d.deleted > 0 && names.contains(d.file))) return None
    // a provably ALL-NULL file (tombstone with nulls == recorded rows)
    // contributes nothing to min/max — skip it (round 19). A NaN
    // tombstone does NOT qualify: NaN rows participate in Spark's min/max
    // ordering, so such a file keeps the answer unknowable.
    val allNull = m.tombs.iterator
      .filter(t => t.col == c && t.nulls > 0L &&
        rowsByName.get(t.file).contains(t.nulls)).map(_.file).toSet
    val covered = names.filter(byFile.contains)
    val uncovered = names.filterNot(byFile.contains)
      .filterNot(n => rowsByName.get(n).contains(0L))
      .filterNot(allNull)
    if (uncovered.nonEmpty || covered.isEmpty) None
    else Some((covered.map(byFile(_).min).min, covered.map(byFile(_).max).max))
  }

  /** Key-set read through the manifest index: scan only the files whose
    * recorded `c` range can contain one of `keys`' values, then filter
    * exactly — a typed `IN` over the probe's collected keys inside the
    * scan, or a semi join on the distinct key set where the filter cannot
    * be shown equal ([[keyed]]). A driver-resident key frame is probed
    * with no job, so the read is its one scan job. Identical result to
    * filtering a full read; at lake scale a scattered key set reads the
    * per-file-membership sliver instead of the table — the point-lookup
    * complement of [[readRange]], and the state-read half of the keyed
    * incremental refresh ([[Incremental.refreshKeyed]]). */
  def readForKeys(
      spark: SparkSession,
      root: String,
      c: String,
      keys: DataFrame): DataFrame =
    readForKeysProbed(spark, root, c, keys, probeKeys(keys, c))

  /** The probed files' rows WITHOUT the exact key filter — whole touched
    * files. For consumers that re-filter exactly downstream (Scd's
    * changed-key semi join) or whose fold rewrites the touched files in
    * their entirety anyway (the keyed refresh: an untouched group from a
    * touched file folds to its identical self and is rewritten in place),
    * the exact key filter [[readForKeys]] applies is redundant — and for
    * a large or float key set it is a semi join: a distinct, a broadcast
    * build, and a join stage per commit. Rows beyond the key set ARE returned;
    * callers own the contract. */
  private[engine] def readTouched(
      spark: SparkSession,
      root: String,
      c: String,
      probe: KeyProbe): DataFrame = {
    val v = headVersion(spark, root)
    require(v > 0, s"no snapshot committed at $root yet")
    val m = manifest(spark, root, v)
    // an empty probe touches nothing: a 0-row relation with the schema
    readFiles(spark, m, candidateFilesForProbe(m, c, probe))
  }

  /** [[readForKeys]] with the probe precomputed — pairs with
    * [[mergeProbed]] so a fold pipeline probes its key set ONCE. `probe`
    * must be the probe of `keys` itself: its collected keys are the
    * exact filter. */
  private[engine] def readForKeysProbed(
      spark: SparkSession,
      root: String,
      c: String,
      keys: DataFrame,
      probe: KeyProbe): DataFrame = {
    val v = headVersion(spark, root)
    require(v > 0, s"no snapshot committed at $root yet")
    val m = manifest(spark, root, v)
    val touched = candidateFilesForProbe(m, c, probe)
    // every file pruned (or the probe had no keys): an empty relation
    // carrying the recorded schema
    if (touched.isEmpty) readFiles(spark, m, Seq.empty)
    else keyed(readFiles(spark, m, touched), c, probe, keys, anti = false)
  }

  /** Time travel by wall clock: read the newest version whose publish
    * timestamp is ≤ `tsMillis` (ties: highest version). The reproducibility
    * primitive — "the table as the Tuesday run saw it" without recording a
    * version number anywhere. Throws when every retained version is newer
    * (the asked-for state is vacuumed or never existed). */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long): DataFrame = {
    // version selection needs only commit records (ts) — no shard I/O
    val eligible = historyMeta(spark, root).filter(_.ts <= tsMillis)
    require(eligible.nonEmpty,
      s"no retained snapshot at $root published at or before $tsMillis")
    read(spark, root, eligible.map(_.version).max)
  }

  /** Read snapshot `version` (default: head). The returned plan scans
    * exactly the manifest's file list, sized from the manifest — building
    * and planning it makes no data-file request and starts no Spark job. */
  def read(spark: SparkSession, root: String, version: Long = -1L): DataFrame = {
    val v = if (version >= 0) version else headVersion(spark, root)
    require(v > 0, s"no snapshot committed at $root yet")
    val m = manifest(spark, root, v)
    readFiles(spark, m, m.files)
  }

  /** File-level diff between two versions: (added, removed) — files present
    * only in `toV`, files present only in `fromV`. `fromV = 0` is the empty
    * base (everything in `toV` is added). The diff is manifest arithmetic:
    * two small file lists, no data I/O and no directory listing. */
  def diffFiles(
      spark: SparkSession,
      root: String,
      fromV: Long,
      toV: Long): (Seq[String], Seq[String]) = {
    val fromFiles =
      if (fromV == 0) Set.empty[String]
      else manifest(spark, root, fromV).files.toSet
    val toFiles = manifest(spark, root, toV).files.toSet
    ((toFiles -- fromFiles).toSeq.sorted, (fromFiles -- toFiles).toSeq.sorted)
  }

  /** Signed row delta between two versions: every row of an added file with
    * `_sign = 1`, every row of a removed file with `_sign = -1`. Rows a
    * rewrite merely carried forward appear once with each sign and CANCEL in
    * any additive aggregate — so an incremental count/sum refresh can
    * consume this directly, one pass, no row-matching join (see
    * [[Incremental]]). Cost ∝ changed files, never the table: an append
    * touches the appended files only, a point-ish merge the overlapping
    * sliver, and a compaction (full rewrite, same rows) is pure
    * cancellation. */
  def signedDelta(
      spark: SparkSession,
      root: String,
      fromV: Long,
      toV: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val (added, removed) = diffFiles(spark, root, fromV, toV)
    val mTo = manifest(spark, root, toV)
    val mFrom = if (fromV == 0) None else Some(manifest(spark, root, fromV))
    val fromDvs = mFrom.map(_.dvs).getOrElse(Seq.empty)
    // both sides plan against the TARGET version's recorded schema, so a
    // delta spanning a schema evolution compares rows in one shape
    // (pre-evolution files fill the new columns with nulls) and an empty
    // side is a true empty relation — the plan's only file scans are the
    // changed files, which is the operator's whole point. Added files
    // read under the TO version's deletion vectors (rows deleted by toV
    // never existed for it); REMOVED files read under the FROM version's
    // (the rows that existed then).
    val base = readFiles(spark, mTo, added).withColumn("_sign", lit(1))
      .unionByName(readFilesDvs(spark, mTo, removed, fromDvs)
        .withColumn("_sign", lit(-1)))
    // deletion-vector deltas on files carried in BOTH versions: a
    // merge-on-read delete changes rows with NO file-list change — those
    // rows surface here by position. toV-only positions are deletions
    // (-1); fromV-only positions are restorations (+1, the restore-to-
    // pre-delete case). Cost ∝ changed positions, never the table.
    val toNames = mTo.files.map(u => new Path(u).getName).toSet
    val commonNames = mFrom.map(_.files.map(u => new Path(u).getName).toSet
      .intersect(toNames)).getOrElse(Set.empty)
    val fromBy = fromDvs.map(d => d.file -> d).toMap
    val toBy = mTo.dvs.map(d => d.file -> d).toMap
    def bmOf(m2: Map[String, FileDv], n: String) =
      m2.get(n).map(d => dvDecode(d.b64))
        .getOrElse(new org.roaringbitmap.longlong.Roaring64Bitmap())
    def bmMinus(a: org.roaringbitmap.longlong.Roaring64Bitmap,
        b: org.roaringbitmap.longlong.Roaring64Bitmap) = {
      val out = new org.roaringbitmap.longlong.Roaring64Bitmap()
      val it = a.getLongIterator
      while (it.hasNext) { val v = it.next(); if (!b.contains(v)) out.addLong(v) }
      out
    }
    val dvDiffs = commonNames.toSeq.sorted.flatMap { n =>
      if (!fromBy.contains(n) && !toBy.contains(n)) Seq.empty
      else {
        val f = bmOf(fromBy, n)
        val t = bmOf(toBy, n)
        val del = bmMinus(t, f)
        val res = bmMinus(f, t)
        (if (del.isEmpty) Seq.empty else Seq((n, dvEncode(del), -1))) ++
          (if (res.isEmpty) Seq.empty else Seq((n, dvEncode(res), 1)))
      }
    }
    if (dvDiffs.isEmpty) base
    else {
      import spark.implicits._
      val posDf = spark.createDataset(dvDiffs)
        .flatMap { case (n, b64, sign) =>
          val it = dvDecode(b64).getLongIterator
          new Iterator[(String, Long, Int)] {
            override def hasNext: Boolean = it.hasNext
            override def next(): (String, Long, Int) = (n, it.next(), sign)
          }
        }
        .toDF(DvFileCol, DvPosCol, "_sign")
      val changedNames = dvDiffs.map(_._1).toSet
      val changedFiles = mTo.files.filter(u => changedNames.contains(new Path(u).getName))
      val raw = readFilesRaw(spark, mTo, changedFiles, withMeta = true)
      val keep = raw.columns.filterNot(_.startsWith("__gdv_")).toSeq
      val dvRows = raw
        .join(org.apache.spark.sql.functions.broadcast(posDf),
          Seq(DvFileCol, DvPosCol), "inner")
        .select(keep.map(col) :+ col("_sign"): _*)
      base.unionByName(dvRows)
    }
  }

  /** Net row-level changes between two versions (CDC read): columns of the
    * table plus `_op` — 'I' for net-inserted rows, 'D' for net-deleted rows.
    * Multiset semantics: a row appearing k more times in `toV` than in
    * `fromV` yields k 'I' rows — the SUM OF SIGNS per distinct row value,
    * computed in one grouped pass over the signed delta (r19; the former
    * `exceptAll` both ways aggregated the same union twice). Carried-forward
    * rows in rewritten files net to zero, so a pure compaction yields ZERO
    * changes. Scans only the manifest diff's files — at 100 TB the cost of
    * reading a day's changes is the day's files, not the table.
    *
    * Bound: a single distinct row value whose net multiplicity exceeds
    * Int.MaxValue throws under ANSI at the replication cast (`exceptAll`
    * had no such ceiling); 2^31 duplicates of ONE identical row is far
    * outside any real CDC feed, and the k-element replication array is
    * likewise materialized per distinct row, not streamed. */
  def changes(
      spark: SparkSession,
      root: String,
      fromV: Long,
      toV: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val signed = signedDelta(spark, root, fromV, toV)
    val cols = signed.columns.filterNot(_ == "_sign").toSeq
    signed.groupBy(cols.map(col): _*)
      .agg(sum(col("_sign").cast("long")).as("__net"))
      .filter(col("__net") =!= 0L)
      .withColumn("_op", when(col("__net") > 0, "I").otherwise("D"))
      // k net occurrences → k rows (the exceptAll multiset contract)
      .withColumn("__dup",
        explode(array_repeat(lit(1), abs(col("__net")).cast("int"))))
      .select(cols.map(col) :+ col("_op"): _*)
  }

  /** TYPED change feed (the Delta CDF `_change_type` shape): [[changes]]'
    * net 'I'/'D' rows re-classified by `key` — a key present on BOTH sides
    * of the diff was UPDATED (its 'D' rows become `update_pre`, its 'I'
    * rows `update_post`); a key on one side only is a plain `insert` /
    * `delete`. What a downstream consumer (dimension sync, cache
    * invalidation, search-index maintenance) actually needs: "which keys
    * changed and how", not a bag of signed rows. Cost is [[changes]] plus
    * ONE keyed window pass over the (already changed-files-only) delta —
    * never the table. Multi-row keys classify as a unit: any key with rows
    * on both sides is an update for all its rows. NULL keys never pair:
    * they classify as plain insert/delete (the key-join algebra — `k IN
    * (...)` — that defined this feed never matches NULL against NULL,
    * and a window partition would). */
  def changesTyped(
      spark: SparkSession,
      root: String,
      fromV: Long,
      toV: Long,
      key: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // ONE keyed window pass classifies every row: a key with rows on both
    // sides of the diff is an update, one-sided keys are plain
    // inserts/deletes. Replaces the former localCheckpoint + two key
    // distincts + four semi/anti joins (r19): the window's key exchange is
    // the only shuffle, it runs over the (already changed-files-only)
    // delta, and the frame stays lazy — no materialization job.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(key)
    // window partitioning treats NULL keys as one group, but the CDC
    // contract (join algebra) says a NULL key matches nothing: guard the
    // classification so null-key rows on both sides stay insert/delete
    val nn = col(key).isNotNull
    changes(spark, root, fromV, toV)
      .withColumn("__i",
        when(nn, max(when(col("_op") === "I", 1).otherwise(0)).over(w)).otherwise(0))
      .withColumn("__d",
        when(nn, max(when(col("_op") === "D", 1).otherwise(0)).over(w)).otherwise(0))
      .withColumn("_change",
        when(col("_op") === "I",
          when(col("__d") === 1, "update_post").otherwise("insert"))
          .otherwise(
            when(col("__i") === 1, "update_pre").otherwise("delete")))
      .drop("_op", "__i", "__d")
  }

  /** Idempotent tagged commit: a no-op returning None when any retained
    * manifest already carries `tag`. The streaming-ingest primitive —
    * foreachBatch delivers at-least-once, so a restart may replay a batch
    * the table already absorbed; keying each batch's commit on its batch id
    * makes the replay observable and skippable, and the table's states are
    * exactly-once. (Same contract as EventStream's upsert-based view, but
    * for append-shaped ingest where idempotent-per-key upserts don't apply.)
    *
    * Cost note: the tag scan reads every RETAINED commit record (metadata
    * only, no shards — but still one small file per version). A long-lived
    * standing ingest therefore pairs this with [[vacuum]] retention: with
    * keepLast = N the scan is O(N) forever, and replay protection only ever
    * needs the restart window's worth of history anyway (a streaming replay
    * can only replay batches newer than the last checkpoint). */
  def commitIfAbsent(
      df: DataFrame,
      root: String,
      tag: String,
      append: Boolean = true,
      statsCols: Seq[String] = Seq.empty,
      requireHead: Long = -1L,
      clusterBy: Option[(Seq[String], Int)] = None): Option[Long] = {
    require(tag.nonEmpty, "idempotency tag must be non-empty")
    // tag scan at the metadata level — no shard I/O
    if (historyMeta(df.sparkSession, root).exists(_.tag == tag)) None
    else Some(commit(df, root, append, statsCols, tag, requireHead,
      clusterBy = clusterBy))
  }

  /** Roll the table back to `version` — as a NEW commit whose file list is
    * the old version's (by reference, no data movement), so the rollback
    * is itself history: auditable, time-travelable, and CDC between the
    * bad head and the restored head is exactly the bad commits' inverse.
    * Requires the target manifest still retained (vacuum is the only thing
    * that forecloses a restore).
    *
    * The restored commit CARRIES THE TARGET'S CONTENT TAG: a restore
    * CHANGES table content back to what the tagged commit published, so any
    * tag-driven consumer must see that tag at the new head. Concretely, an
    * [[Incremental]] state table restored to an older `src-v<N>` refresh
    * must report reflectedVersion = N — an untagged restore would leave the
    * parent walk landing on the PRE-restore head's newer tag and the next
    * refresh would apply a delta against the wrong base. The one exception:
    * a target whose own tag is the reserved row-preserving `optimize:`
    * marker restores under its newest non-maintenance ancestor's tag
    * instead (same rows, by the OptimizeTag contract) — republishing the
    * marker verbatim would let the tag-skipping walkers treat a
    * content-changing restore as invisible maintenance. */
  def restore(spark: SparkSession, root: String, version: Long): Long = {
    val target = manifestMeta(spark, root, version) // throws if vacuumed away
    // a restored-to state may PREDATE a CHECK rule — its rows were never
    // vetted by it, and a metadata-only flip would launder them past the
    // write-path enforcement. Validate the target state when rules exist
    // (one scan; restore is a rare admin verb).
    val rules = Checks.list(spark, root)
    if (rules.nonEmpty) {
      Checks.findViolation(read(spark, root, version), rules).foreach {
        case (rname, cnt) => throw new IllegalArgumentException(
          s"cannot restore $root to v$version: ${cnt} row(s) violate check " +
            s"'$rname' (the version predates the rule) — drop the check first")
      }
    }
    // carry the target's shards BY REFERENCE — a restore is pure metadata,
    // O(#shards) whatever the table size
    val refs = target.shardRefs
    // A restore is a CONTENT-CHANGING commit, so it must never wear the
    // row-preserving `optimize:` marker — tag-reading walkers (Incremental
    // reflectedAt, walkInterim, branch classifyChain) would skip it and
    // attribute the pre-restore head's content to the new head. An
    // optimize-tagged target holds exactly its newest non-maintenance
    // ancestor's rows (that is the OptimizeTag contract), so the restore
    // republishes under THAT ancestor's tag: the content it actually equals.
    val contentTag =
      if (!target.tag.startsWith(OptimizeTag)) target.tag
      else {
        var v = target.parent
        var t: Option[String] = None
        while (t.isEmpty && v > 0) {
          require(manifestExists(spark, root, v),
            s"cannot restore $root to v$version: it is a maintenance " +
              s"(optimize:) commit and its content ancestor v$v was vacuumed " +
              "away — restore to a non-maintenance version instead")
          val mm = manifestMeta(spark, root, v)
          if (mm.tag.startsWith(OptimizeTag)) v = mm.parent else t = Some(mm.tag)
        }
        // No non-maintenance ancestor should be possible (v1 is never
        // optimize-tagged); if invariants ever change, fail loudly rather
        // than publish an untagged restore that tag-walkers (Incremental,
        // walkInterim) would misread exactly like the laundering bug.
        t.getOrElse(sys.error(
          s"cannot restore $root to v$version: it is a maintenance " +
            "(optimize:) commit with no non-maintenance ancestor — the " +
            "chain violates the OptimizeTag invariant"))
      }
    // the restored state IS the target's file set — its clustering comes
    // back with it (DV state included: refs are the target's shards)
    publishMeta(spark, root, tag = contentTag,
      clustering = _ => target.clustering) { _ => (refs, target.schema) }
  }

  /** Rewrite the head snapshot into `targetFiles` files and commit the
    * compacted layout as a NEW version. Readers pinned to older versions
    * keep their (still-present) files — this is the maintenance operation
    * the manifest layer exists to make safe.
    *
    * FENCED on the head version the rewrite read ([[publishRewriteOutput]],
    * same path as [[compactWhere]]): a racing append/merge either rebases
    * (the output re-points at the new head, the racer's files carry) or
    * refuses — never the unfenced overwrite that would republish stale
    * content under a tag claiming row preservation. */
  def compact(
      spark: SparkSession,
      root: String,
      targetFiles: Int = 1,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Long = {
    val headV = headVersion(spark, root)
    require(headV > 0, s"no snapshot committed at $root yet")
    val meta = manifestMeta(spark, root, headV)
    val m = resolve(meta, loadShards(spark, root, meta))
    // a fully-emptied table (e.g. delete removed every row) has nothing to
    // rewrite — and no file to take a schema from; true no-op
    if (m.files.isEmpty) return headV
    rewriteAll(spark, root, headV, m,
      readFiles(spark, m, m.files).repartition(targetFiles),
      statsCols, bloomCols)
  }

  /** Shared tail of [[compact]] / [[compactZOrder]]: write `rewritten`
    * (every live row of `m`, re-laid-out) and publish through the
    * rebase-validated rewrite committer. */
  private def rewriteAll(
      spark: SparkSession,
      root: String,
      headV: Long,
      m: Manifest,
      rewritten: DataFrame,
      statsCols: Seq[String],
      bloomCols: Seq[String],
      cluster: Option[Clustering] = None): Long = {
    val toPhys = logicalToPhysical(parseSchema(m))
    val (written, newStats, newRows, newBlooms) =
      writeBatch(rewritten, root, statsCols, toPhys, bloomCols, cluster)
    val newRef = writeShard(spark, root, written, newStats, newRows, newBlooms)
    testPrePublishHook()
    publishRewriteOutput(spark, root, headV, m, m.files.toSet, newRef, cluster)
  }

  /** BUCKET-PRESERVING compaction — the maintenance step for
    * hash-clustered tables ([[Clustering]]): every clustered append adds
    * up to `buckets` new files, so a streamed-into clustered table
    * accumulates small files per bucket; plain [[compact]] would merge
    * them but DROP the clustering spec (its layout proves nothing about
    * buckets), killing storage-partitioned joins until a full re-clustered
    * overwrite. This rewrites ONLY the multi-file (or vector-carrying)
    * buckets back through the SAME clustered-write path — one output file
    * per rewritten bucket, deletion vectors materialized as a side effect,
    * every already-tidy bucket carried by reference — and republishes the
    * spec, under the usual row-preserving OPTIMIZE contract (racing
    * commits rebase or refuse exactly like [[compact]]; a racing
    * spec-dropping commit makes the republished spec drop too, never
    * mislabel). */
  def compactClustered(
      spark: SparkSession,
      root: String,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Long = {
    val headV = headVersion(spark, root)
    require(headV > 0, s"no snapshot committed at $root yet")
    val meta = manifestMeta(spark, root, headV)
    val c = meta.clustering.getOrElse(sys.error(
      s"$root head carries no clustering spec — use compact/compactZOrder, " +
        "or re-cluster with commit(clusterBy)"))
    val m = resolve(meta, loadShards(spark, root, meta))
    if (m.files.isEmpty) return headV
    // PER-BUCKET selection: only buckets holding >1 file (fold the small
    // files) or a deletion vector (materialize it) rewrite; every
    // single-file vector-free bucket carries by reference. A streamed-into
    // clustered table's periodic maintenance thus costs O(recent ingest),
    // not O(table) — two appends touching 4 of 16 buckets rewrite those 4
    // buckets' 8 files, nothing else. Unrecoverable bucket names (adopted
    // files) degrade to the full rewrite, never to a wrong partial one.
    // grouping key: bucket id (single-col spec) or grid cell (composite)
    def keyOf(name: String): Option[Seq[Int]] =
      if (c.cols.size == 1) bucketOfFile(name).map(Seq(_))
      else gridOfFile(name, c.cols.size)
    val byBucket = m.files.map(u => keyOf(new Path(u).getName) -> u)
    val selected: Seq[String] =
      if (byBucket.exists(_._1.isEmpty)) m.files
      else {
        val dvNames = m.dvs.filter(_.deleted > 0).map(_.file).toSet
        byBucket.groupBy(_._1.get).valuesIterator
          .map(_.map(_._2))
          .filter(fs => fs.size > 1 ||
            fs.exists(u => dvNames.contains(new Path(u).getName)))
          .flatten.toSeq
      }
    // true no-op: no bucket has more than one file and no vectors live
    if (selected.isEmpty) return headV
    val rewritten = readFiles(spark, m, selected)
    val toPhys = logicalToPhysical(parseSchema(m))
    val (written, newStats, newRows, newBlooms) =
      writeBatch(rewritten, root, statsCols, toPhys, bloomCols, Some(c))
    val newRef = writeShard(spark, root, written, newStats, newRows, newBlooms)
    testPrePublishHook()
    publishRewriteOutput(spark, root, headV, m, selected.toSet, newRef, Some(c))
  }

  /** PREDICATE-SCOPED compaction — OPTIMIZE WHERE: rewrite into
    * `targetFiles` only the files the predicate can touch (the same
    * overlap face as [[readWhere]]); every other file carries by
    * reference. The 100 TB form of [[compact]]: a full-table OPTIMIZE is
    * unaffordable there, but "compact yesterday's ingest" / "re-cluster
    * the hot key band" touches a sliver. The predicate only SELECTS files
    * — no row is dropped (the rewrite keeps every row of the selected
    * files, matching or not), so content is invariant by construction.
    * Deletion vectors on selected files materialize as a side effect
    * (the rewrite reads vectors-applied); unmined predicates degrade to
    * the full compact, never to a wrong one. No-op (no new version) when
    * nothing matches. */
  def compactWhere(
      spark: SparkSession,
      root: String,
      cond: org.apache.spark.sql.Column,
      targetFiles: Int = 1,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Long = {
    val headV = headVersion(spark, root)
    require(headV > 0, s"no snapshot committed at $root yet")
    val meta = manifestMeta(spark, root, headV)
    val shards = loadShards(spark, root, meta)
    val m = resolve(meta, shards)
    if (m.files.isEmpty) return headV
    val probe = readFilesRaw(spark, m, Seq.empty, withMeta = false).filter(cond)
    val selected =
      if (m.stats.isEmpty && m.blooms.isEmpty) m.files
      else statsPredicate(probe).fold(m.files)(StatsPredicate.overlap(m, _))
    if (selected.isEmpty) return headV
    val rewritten = readFiles(spark, m, selected).repartition(targetFiles)
    val toPhys = logicalToPhysical(parseSchema(m))
    val (written, newStats, newRows, newBlooms) =
      writeBatch(rewritten, root, statsCols, toPhys, bloomCols)
    val newRef = writeShard(spark, root, written, newStats, newRows, newBlooms)
    testPrePublishHook()
    publishRewriteOutput(spark, root, headV, m, selected.toSet, newRef)
  }

  /** Commit-tag prefix marking a ROW-PRESERVING layout rewrite (OPTIMIZE /
    * DV materialization): the commit's added files hold exactly the live
    * rows of its removed files. What lets a racing keyed merge's rebase
    * validation exempt those added files from key candidacy — their rows
    * came from files already proven key-free. */
  private[graft] val OptimizeTag = "optimize:"

  private def freshOptimizeTag(): String =
    OptimizeTag + java.util.UUID.randomUUID().toString.take(8)

  /** The conflict-validated publish for row-preserving file rewrites
    * (compaction, DV materialization): losing the head race re-points the
    * pre-written output at the new head instead of aborting, when provably
    * sound — every rewritten source file must still stand in the new head
    * with its deletion vector unchanged (an interim rewrite or DV growth
    * on one means this output was computed from superseded rows — lost
    * update). Everything ELSE the interim commits did (appends, merges,
    * deletes, other compactions on disjoint files) commutes with a layout
    * rewrite by construction: the rewrite only moves the rows of
    * `selected`, and the rebased carry derives from the NEW head's shards.
    * Serial-schedule note: a fresh OPTIMIZE on the new head might select
    * MORE files; re-pointing compacts exactly the originally-selected ones
    * — a smaller but equally valid maintenance outcome. */
  private def publishRewriteOutput(
      spark: SparkSession,
      root: String,
      headV: Long,
      m: Manifest,
      selected: Set[String],
      newRef: ShardRef,
      cluster: Option[Clustering] = None): Long = {
    var baseV = headV
    var rebases = 0
    while (true) {
      val baseShards = loadShards(spark, root, manifestMeta(spark, root, baseV))
      val carried = carryUntouched(spark, root, baseShards, selected)
      try {
        return publishMeta(spark, root, tag = freshOptimizeTag(),
          requireHead = baseV,
          // a clustered rewrite republishes the spec ONLY while the head
          // still carries it: a rebased-over interim commit that dropped
          // the spec added bucket-impure files this rewrite never touched
          clustering = h =>
            cluster.filter(c => h.flatMap(_.clustering).contains(c))) { head =>
          val h = head.getOrElse(sys.error("rewrite base vanished"))
          (carried :+ newRef, h.schema)
        }
      } catch {
        case e: ConcurrentCommitException =>
          rebases += 1
          if (rebases > 10) throw e
          val nwV = headVersion(spark, root)
          val nw = manifest(spark, root, nwV)
          val nwFiles = nw.files.toSet
          if (!selected.forall(nwFiles.contains))
            throw new ConcurrentCommitException(
              s"${e.getMessage} [rebase refused: an interim commit rewrote or " +
                "removed a file this rewrite compacted]")
          def base(u: String) = new Path(u).getName
          val selBase = selected.map(base)
          def dvsOf(man: Manifest) =
            man.dvs.filter(d => selBase.contains(d.file)).sortBy(_.file)
          if (dvsOf(m) != dvsOf(nw))
            throw new ConcurrentCommitException(
              s"${e.getMessage} [rebase refused: an interim commit changed a " +
                "deletion vector on a file this rewrite compacted]")
          baseV = nwV
      }
    }
    0L // unreachable
  }

  /** Z-order-clustering compaction — the OPTIMIZE-by-layout maintenance
    * step: rewrite the head along the Morton curve of `dims`
    * ([[ZOrder.cluster]]) and re-collect per-file stats for those
    * dimensions, so the manifest's min/max index holds TIGHT ranges on
    * every z-dim and [[readRange]] prunes a band scan to a sliver of the
    * file list. Accumulated appends each cover the full key range (every
    * batch's file spans everything), so range reads degrade toward
    * all-files as a table grows; this restores them in one commit, under
    * the same pinned-reader/atomic-flip contract as [[compact]]. Stats
    * default to the z-dims themselves (the columns whose ranges the
    * rewrite just tightened). */
  def compactZOrder(
      spark: SparkSession,
      root: String,
      dims: Seq[String],
      targetFiles: Int,
      statsCols: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty): Long = {
    require(dims.nonEmpty, "need at least one z-order dimension")
    val headV = headVersion(spark, root)
    require(headV > 0, s"no snapshot committed at $root yet")
    val meta = manifestMeta(spark, root, headV)
    val m = resolve(meta, loadShards(spark, root, meta))
    if (m.files.isEmpty) return headV
    rewriteAll(spark, root, headV, m,
      ZOrder.cluster(readFiles(spark, m, m.files), dims, targetFiles),
      if (statsCols.isEmpty) dims else statsCols, bloomCols)
  }

  /** Destroy history: keep the newest `keepLast` manifests, delete older
    * ones plus every data file no retained manifest references. The only
    * operation that deletes data — explicit and separate from commit, so
    * time travel is a retention POLICY decision, not a side effect. */
  def vacuum(spark: SparkSession, root: String, keepLast: Int = 1): Unit = {
    require(keepLast >= 1, "must retain at least the head snapshot")
    val allMeta = historyMeta(spark, root)
    if (allMeta.size <= keepLast) return
    val (dropM, keepM) = allMeta.splitAt(allMeta.size - keepLast)
    vacuumSplit(spark, root, dropM, keepM)
  }

  /** Time-based retention — the operational norm ("keep 7 days of time
    * travel"): destroy every version whose PUBLISH timestamp is older than
    * `cutoffMillis`, always retaining the head (a fully-stale table keeps
    * its current state). Versions published at-or-after the cutoff are
    * untouched regardless of count. Same deletion mechanics and in-flight
    * safety as [[vacuum]]; [[retention]] wraps it as "now minus N ms". */
  def vacuumBefore(spark: SparkSession, root: String, cutoffMillis: Long): Unit = {
    val allMeta = historyMeta(spark, root)
    if (allMeta.isEmpty) return
    // the head survives unconditionally
    val (dropM, keepM) = allMeta.partition(m =>
      m.ts < cutoffMillis && m.version != allMeta.last.version)
    if (dropM.isEmpty) return
    vacuumSplit(spark, root, dropM, keepM)
  }

  /** [[vacuumBefore]] with the cutoff at `now - retentionMs`. */
  def retention(spark: SparkSession, root: String, retentionMs: Long): Unit = {
    require(retentionMs >= 0, "retention must be non-negative")
    vacuumBefore(spark, root, System.currentTimeMillis() - retentionMs)
  }

  private def vacuumSplit(
      spark: SparkSession,
      root: String,
      dropM: Seq[ManifestMeta],
      keepM: Seq[ManifestMeta]): Unit = {
    val f = fs(spark, root)
    // shards are shared across versions by reference — resolve each ONCE by
    // name (the history() stance); per-version manifest() calls would re-read
    // shared shards once per referencing version, O(versions × shards) small
    // reads on a long history
    val shardCache = scala.collection.mutable.HashMap.empty[String, Shard]
    def filesOf(m: ManifestMeta): Seq[String] = m.shardRefs.flatMap(r =>
      shardCache.getOrElseUpdate(r.name, loadShard(spark, root, r)).files)
    // branches share data files and metadata shards with this chain by
    // reference — every OTHER chain's full retained history is live too,
    // or vacuuming main would corrupt a forked branch (and vice versa)
    val (dir, thisRef) = splitRef(root)
    val otherMeta = allRefs(spark, root).filterNot(_ == thisRef).flatMap { r =>
      historyMeta(spark, if (r.isEmpty) dir else branchRoot(dir, r))
    }
    val live = (keepM ++ otherMeta).flatMap(filesOf).toSet
    dropM.flatMap(filesOf)
      .distinct.filterNot(live.contains)
      .foreach(uri => f.delete(new Path(uri), false))
    dropM.foreach(m => f.delete(manifestPath(root, m.version), false))
    // reclaim metadata shards the DROPPED manifests referenced and no kept
    // one does. Scope strictly to dropped refs: an unreferenced shard file
    // in the directory may belong to an IN-FLIGHT commit (shard written,
    // manifest not yet published) — deleting it would corrupt the commit
    // the moment it publishes. In-flight-aged debris is vacuumOrphans'
    // job, behind its grace window.
    val keptShards = (keepM ++ otherMeta).flatMap(_.shardRefs.map(_.name)).toSet
    dropM.flatMap(_.shardRefs.map(_.name)).distinct
      .filterNot(keptShards.contains)
      .foreach(name => f.delete(shardPath(root, name), false))
  }

  /** Metadata-only maintenance: consolidate the head's accumulated shards
    * into ONE and commit the result as a new version — same files, same
    * stats, no data I/O at all. The shard count grows one per commit;
    * after 10k commits a resolve opens 10k small files. This is the
    * manifest-level twin of [[compact]] (which rewrites DATA files) and
    * costs O(table metadata) once instead of per-read. No-op (returns the
    * head) when the head already has ≤1 shard. */
  def compactManifests(spark: SparkSession, root: String): Long = {
    val headV = headVersion(spark, root)
    require(headV > 0, s"no snapshot committed at $root yet")
    val meta = manifestMeta(spark, root, headV)
    if (meta.shardRefs.size <= 1) return headV
    val m = resolve(meta, loadShards(spark, root, meta))
    // known counts pass through; uncounted files get a one-time footer
    // backfill here (consolidation already touches all metadata).
    // Tombstones ride along or the
    // consolidation would turn by-design absence back into "decay".
    val one = writeShard(spark, root, m.files, m.stats ++ m.tombs, m.rows,
      m.blooms, m.dvs)
    // metadata-only consolidation: same files, clustering carries
    publishMeta(spark, root, tag = "", requireHead = headV,
      clustering = h => h.flatMap(_.clustering)) { _ =>
      (Seq(one), meta.schema)
    }
  }

  /** Clean up ORPHANED data files — files under `data/` that no retained
    * manifest references and never will: the debris of aborted commits
    * (files written, manifest never published — a crashed writer, a racer
    * that gave up) and of vacuumed history. Invisible to every reader by
    * construction, but they cost storage forever since [[vacuum]] only
    * deletes what a DROPPED manifest referenced. `graceMs` protects
    * commits in flight (a writer that has landed files but not yet
    * published its manifest): only files older than the grace window are
    * eligible. Returns the number of files deleted; empty per-commit
    * directories are removed afterwards. */
  def vacuumOrphans(spark: SparkSession, root: String, graceMs: Long = 3600000L): Int = {
    val f = fs(spark, root)
    val dir = dataRoot(root)
    val dataDir = new Path(s"$dir/data")
    if (!f.exists(dataDir)) return 0
    // data files and shards are shared across the table's chains: a file
    // is an orphan only if NO chain (main or any branch) references it
    def chainRoot(r: String) = if (r.isEmpty) dir else branchRoot(dir, r)
    val refs = allRefs(spark, root)
    val live = refs.flatMap(r => history(spark, chainRoot(r)).flatMap(_.files)).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    var deleted = 0
    val it = f.listFiles(dataDir, /*recursive=*/ true)
    val toDelete = Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next())
      .filter(st => st.isFile &&
        !live.contains(st.getPath.toString) &&
        st.getModificationTime < cutoff)
      .map(_.getPath).toList
    toDelete.foreach { p => if (f.delete(p, false)) deleted += 1 }
    // drop now-empty per-commit directories
    f.listStatus(dataDir).filter(_.isDirectory).foreach { d =>
      if (f.listStatus(d.getPath).isEmpty) f.delete(d.getPath, false)
    }
    // orphaned metadata shards: written by a crashed or losing committer,
    // referenced by no retained manifest — same grace-window contract as
    // data files (a writer may have landed its shard but not yet published)
    val liveShards =
      refs.flatMap(r => historyMeta(spark, chainRoot(r)).flatMap(_.shardRefs.map(_.name))).toSet
    val snapDir = new Path(s"$dir/$SnapDir")
    if (f.exists(snapDir)) {
      f.listStatus(snapDir).toSeq
        .filter(st => st.isFile && st.getPath.getName.startsWith("shard-") &&
          !liveShards.contains(st.getPath.getName) &&
          st.getModificationTime < cutoff)
        .foreach { st => if (f.delete(st.getPath, false)) deleted += 1 }
    }
    deleted
  }

  /** Atomic create-if-absent of a COMPLETE manifest; false = lost the race.
    *
    * Two-phase: render to a per-writer temp file, then publish through the
    * scheme's [[CommitArbiter]], so (a) the loser of a version race
    * observes the collision — Hadoop's local `create(overwrite=false)` is
    * check-then-act and lets both racers "win" — and (b) no reader can
    * ever open a half-written manifest. POSIX local arbitrates via
    * link(2), HDFS-family via namenode rename, object stores via a
    * registered conditional-put arbiter, and an unregistered scheme THROWS
    * rather than silently degrading — see [[CommitArbiter]]. The scheme
    * comes from the FileSystem (not the raw URI, whose scheme may be
    * absent). */
  private def tryWriteManifest(spark: SparkSession, root: String, m: ManifestMeta): Boolean = {
    val f = fs(spark, root)
    f.mkdirs(new Path(refDir(root)))
    val target = manifestPath(root, m.version)
    val tmp = new Path(s"${refDir(root)}/.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, /*overwrite=*/ true)
    try out.write(renderManifestMeta(m).getBytes("UTF-8")) finally out.close()
    try atomicNoReplace(f, tmp, target) finally f.delete(tmp, false)
  }

  /** Publish `tmp` at `target` iff absent, atomically; false = already
    * exists (lost the race). Delegates to the scheme's [[CommitArbiter]]
    * (throws on schemes with none registered). Shared with [[Catalog]],
    * whose flip needs the identical guarantee. */
  private[engine] def atomicNoReplace(
      f: org.apache.hadoop.fs.FileSystem,
      tmp: Path,
      target: Path): Boolean =
    CommitArbiter.publish(f, tmp, target)

  private def renderStats(stats: Seq[ColStats]): String =
    stats.map { s =>
      // optional keys are rendered only when present (see ManifestMeta)
      val str =
        if (s.slo == null) ""
        else s""","slo":${graft.JsonStr(s.slo)},"shi":${graft.JsonStr(s.shi)}"""
      val sm = if (s.sumS == null) "" else s""","sum":${graft.JsonStr(s.sumS)}"""
      val nrF = if (s.nr) ""","nr":1""" else ""
      s"""{"file":${graft.JsonStr(s.file)},"col":${graft.JsonStr(s.col)},"min":${s.min},"max":${s.max},"nulls":${s.nulls}$nrF$sm$str}"""
    }.mkString("[", ",", "]")

  private def renderRows(rows: Seq[FileRows]): String =
    // "b" only when known: the scan-collected stats pass (convertInPlace,
    // reindex) sizes no file; byte pacing treats one as budget-exhausting
    rows.map(r => s"""{"file":${graft.JsonStr(r.file)},"n":${r.n}""" +
        (if (r.bytes >= 0L) s""","b":${r.bytes}}""" else "}"))
      .mkString("[", ",", "]")

  /** Shard body: one immutable file list + its stats + per-file row counts.
    * files LAST: the parser anchors its greedy bracket match on the final
    * array, so file arrays never need nested-structure parsing. */
  private def renderBlooms(blooms: Seq[FileBloom]): String =
    blooms.map(b =>
      s"""{"file":${graft.JsonStr(b.file)},"col":${graft.JsonStr(b.col)},"b64":${graft.JsonStr(b.b64)}}""")
      .mkString("[", ",", "]")

  private def renderDvs(dvs: Seq[FileDv]): String =
    dvs.map(d =>
      s"""{"file":${graft.JsonStr(d.file)},"dv64":${graft.JsonStr(d.b64)},"del":${d.deleted}}""")
      .mkString("[", ",", "]")

  private def renderShard(files: Seq[String], stats: Seq[ColStats],
      rows: Seq[FileRows], blooms: Seq[FileBloom] = Seq.empty,
      dvs: Seq[FileDv] = Seq.empty): String = {
    val bl = if (blooms.isEmpty) "" else s""""blooms":${renderBlooms(blooms)},"""
    val dv = if (dvs.isEmpty) "" else s""""dvs":${renderDvs(dvs)},"""
    s"""{"stats":${renderStats(stats)},"rows":${renderRows(rows)},$bl$dv"files":${files.map(graft.JsonStr(_)).mkString("[", ",", "]")}}"""
  }

  private def renderManifestMeta(m: ManifestMeta): String = {
    val shards = m.shardRefs.map(r =>
      s"""{"name":${graft.JsonStr(r.name)},"n":${r.n}}""").mkString("[", ",", "]")
    // retired (dropped columns' physical names), clustering and indexed are
    // rendered only when present (see ManifestMeta)
    val retired =
      if (m.retired.isEmpty) ""
      else s""","retired":${m.retired.map(graft.JsonStr(_)).mkString("[", ",", "]")}"""
    val clustering = m.clustering.fold("")(c =>
      s""","clustering":{"cols":${c.cols.map(graft.JsonStr(_)).mkString("[", ",", "]")},"buckets":${c.buckets}""" +
        (if (c.sorted) ""","sorted":true}""" else "}"))
    val indexed = m.indexed.fold("") { case (s, b) =>
      s""","indexed":{"s":${s.map(graft.JsonStr(_)).mkString("[", ",", "]")},"b":${b.map(graft.JsonStr(_)).mkString("[", ",", "]")}}"""
    }
    s"""{"fmt":$FormatVersion,"version":${m.version},"parent":${m.parent},"ts":${m.ts},"tag":${graft.JsonStr(m.tag)},"schema":${graft.JsonStr(m.schema)},"shards":$shards$retired$clustering$indexed}"""
  }

  private def parseFilesArray(text: String): Seq[String] = {
    val files = """"files":\[(.*)\]""".r.findFirstMatchIn(text)
      .map(_.group(1)).getOrElse(sys.error(s"bad shard: missing files in $text"))
    if (files.trim.isEmpty) Seq.empty[String]
    else """"([^"\\]*(?:\\.[^"\\]*)*)"""".r.findAllMatchIn(files)
      .map(m => unescape(m.group(1))).toSeq
  }

  private def parseStatsArray(text: String): Seq[ColStats] = {
    val num = """-?[0-9.eE+-]+"""
    val str = """"([^"\\]*(?:\\.[^"\\]*)*)""""
    // "nulls" is -1 when unknown (a foreign footer without null counts);
    // "sum" optional: scan-collected entries only (plain decimal string —
    // never escaped, or the "!" sentinel: tried, unrecordable);
    // "slo"/"shi" optional: string-column entries only; "nr" optional: the
    // no-range tombstone
    ("""\{"file":"([^"\\]*(?:\\.[^"\\]*)*)","col":"([^"\\]*(?:\\.[^"\\]*)*)","min":(""" + num +
      """),"max":(""" + num + """),"nulls":(-?\d+)(?:,"nr":(1))?(?:,"sum":"([-0-9.!]+)")?(?:,"slo":""" + str +
      ""","shi":""" + str + """)?\}""").r
      .findAllMatchIn(text).map { g =>
        ColStats(unescape(g.group(1)), unescape(g.group(2)),
          g.group(3).toDouble, g.group(4).toDouble,
          g.group(5).toLong,
          Option(g.group(8)).map(unescape).orNull,
          Option(g.group(9)).map(unescape).orNull,
          sumS = g.group(7),
          nr = g.group(6) != null)
      }.toSeq
  }

  /** Per-file row-count entries. Shape-anchored on `"file"` + `"n"` (stats
    * entries carry `"col"` right after `"file"`, manifest shard refs use
    * `"name"` — no cross-match). */
  private def parseRowsArray(text: String): Seq[FileRows] =
    """\{"file":"([^"\\]*(?:\\.[^"\\]*)*)","n":(\d+)(?:,"b":(\d+))?\}""".r
      .findAllMatchIn(text)
      .map(g => FileRows(unescape(g.group(1)), g.group(2).toLong,
        Option(g.group(3)).map(_.toLong).getOrElse(-1L))).toSeq

  /** Bloom entries, shape-anchored on the `"b64"` key (stats carry
    * `"min"`, rows carry `"n"` — no cross-match).
    * NOTE every string-token pattern in these parsers is the UNROLLED-LOOP
    * form `[^"\\]*(?:\\.[^"\\]*)*`, not the naive `(?:[^"\\]|\\.)*`: the
    * alternation-under-star shape makes Java's regex engine recurse once
    * per character, and a kilobyte-scale token (a bloom's base64, a wide
    * schema json) overflows the thread stack; the unrolled form matches
    * the identical language but runs the common char-class span
    * iteratively, recursing only per escape. */
  private def parseBloomsArray(text: String): Seq[FileBloom] =
    ("""\{"file":"([^"\\]*(?:\\.[^"\\]*)*)","col":"([^"\\]*(?:\\.[^"\\]*)*)","b64":"([^"\\]*(?:\\.[^"\\]*)*)"\}""").r
      .findAllMatchIn(text)
      .map(g => FileBloom(unescape(g.group(1)), unescape(g.group(2)), unescape(g.group(3))))
      .toSeq

  /** Deletion-vector entries, shape-anchored on the `"dv64"` key (blooms
    * carry `"b64"`, stats `"min"`, rows `"n"` — no cross-match). */
  private def parseDvsArray(text: String): Seq[FileDv] =
    ("""\{"file":"([^"\\]*(?:\\.[^"\\]*)*)","dv64":"([^"\\]*(?:\\.[^"\\]*)*)","del":(\d+)\}""").r
      .findAllMatchIn(text)
      .map(g => FileDv(unescape(g.group(1)), unescape(g.group(2)), g.group(3).toLong))
      .toSeq

  private def parseShard(text: String)
      : (Seq[String], Seq[ColStats], Seq[FileRows], Seq[FileBloom], Seq[FileDv]) =
    (parseFilesArray(text), parseStatsArray(text), parseRowsArray(text),
      parseBloomsArray(text), parseDvsArray(text))

  /** Minimal parser for the exact shape renderManifestMeta emits. No json
    * library in the classpath contract, same stance as JsonStr on the
    * write side. A manifest not stamped `"fmt":1` is refused with one
    * error naming `path` ([[ManifestMeta]]). */
  private def parseManifestMeta(text: String, path: Path): ManifestMeta = {
    val fmt = """^\{"fmt":(\d+),""".r.findFirstMatchIn(text).map(_.group(1))
    if (!fmt.contains(FormatVersion.toString))
      throw new IllegalStateException(
        s"unsupported snapshot manifest $path (${fmt.fold("no format stamp")(f =>
          s"format $f")}): this engine reads manifest format $FormatVersion " +
          "only — read the table with the engine that wrote it and commit its " +
          "rows to a new root")
    def missing(key: String): Nothing = sys.error(s"bad manifest $path: missing $key")
    def longField(key: String): Long =
      s""""$key":(-?\\d+)""".r.findFirstMatchIn(text)
        .map(_.group(1).toLong).getOrElse(missing(key))
    def stringField(key: String): String =
      s""""$key":"([^"\\\\]*(?:\\\\.[^"\\\\]*)*)"""".r.findFirstMatchIn(text)
        .map(m => unescape(m.group(1))).getOrElse(missing(key))
    // optional: only dropColumn starts a retired list
    val retired = stringArrayAfter(text, """"retired":""").getOrElse(Seq.empty)
    // optional: None = unclustered
    val clustering = {
      val at = text.indexOf(""""clustering":{"cols":""")
      if (at < 0) None
      else for {
        (cols, after) <- stringArrayAt(text, at + """"clustering":{"cols":""".length)
        bm <- """^,"buckets":(\d+)(,"sorted":true)?\}""".r
          .findFirstMatchIn(text.substring(after))
      } yield Clustering(cols, bm.group(1).toInt, sorted = bm.group(2) != null)
    }
    // optional: None = nothing declared yet (appendFiles resolves)
    val indexed = {
      val at = text.indexOf(""""indexed":{"s":""")
      if (at < 0) None
      else for {
        (s, afterS) <- stringArrayAt(text, at + """"indexed":{"s":""".length)
        bAt = text.indexOf(""""b":""", afterS) if bAt >= 0
        (b, _) <- stringArrayAt(text, bAt + """"b":""".length)
      } yield (s, b)
    }
    val refs = """"shards":\[(.*?)\]""".r.findFirstMatchIn(text)
      .map(g => """\{"name":"([^"\\]*(?:\\.[^"\\]*)*)","n":(\d+)\}""".r
        .findAllMatchIn(g.group(1))
        .map(r => ShardRef(unescape(r.group(1)), r.group(2).toLong)).toSeq)
      .getOrElse(missing("shards"))
    ManifestMeta(longField("version"), longField("parent"), refs,
      stringField("tag"), longField("ts"), stringField("schema"),
      retired = retired, clustering = clustering, indexed = indexed)
  }

  /** Parse the `["a","b",...]` string array whose `[` sits at `text(at)`,
    * QUOTE-AWARE: a `]` inside a quoted element (a physical column name
    * containing a bracket) never terminates the array early — the failure
    * mode of the old non-greedy `\[(.*?)\]` capture, which silently
    * mis-declared the indexed columns for every subsequent epoch. Returns
    * (elements, index just past the closing `]`); None when `text(at)` is
    * not `[` or the array never closes (malformed → caller treats as
    * absent, the conservative read). */
  private def stringArrayAt(text: String, at: Int): Option[(Seq[String], Int)] = {
    if (at < 0 || at >= text.length || text.charAt(at) != '[') return None
    val out = Seq.newBuilder[String]
    var i = at + 1
    while (i < text.length) {
      text.charAt(i) match {
        case ']' => return Some((out.result(), i + 1))
        case '"' =>
          val sb = new StringBuilder
          i += 1
          while (i < text.length && text.charAt(i) != '"') {
            if (text.charAt(i) == '\\' && i + 1 < text.length) {
              sb.append(text.charAt(i)).append(text.charAt(i + 1)); i += 2
            } else { sb.append(text.charAt(i)); i += 1 }
          }
          if (i >= text.length) return None // unterminated string
          out += unescape(sb.toString); i += 1
        case _ => i += 1 // separators/whitespace
      }
    }
    None // unterminated array
  }

  /** First `<marker>["..."]` string array in `text`, quote-aware. */
  private def stringArrayAfter(text: String, marker: String): Option[Seq[String]] = {
    val at = text.indexOf(marker)
    if (at < 0) None else stringArrayAt(text, at + marker.length).map(_._1)
  }

  private[engine] def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'u' =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
