package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog snapshots — the manifest pattern one level up: a catalog version
  * pins a CONSISTENT set of table versions, so a reader doing cross-table
  * work (fact ⋈ dim, corpus ⋈ labels) never sees table A after an ingest
  * and table B before it.
  *
  * Mechanics: each table is an ordinary [[Snapshots]] table and commits
  * normally; a catalog commit then atomically publishes ONE small manifest
  * mapping table name → (root, version). Readers [[pin]] a catalog version
  * once and read every table through it — immune to later commits on any
  * member table, exactly like a single-table pinned reader. The catalog
  * flip uses the same exclusive-create arbiter as table manifests, so
  * concurrent catalog committers serialize (losers retry on the refreshed
  * head with THEIR table versions — last catalog writer wins the binding).
  *
  * Failure contract: a writer that dies after committing table A but
  * before the catalog flip leaves A's own head advanced (direct table
  * readers are read-committed) but the CATALOG still references the old
  * versions everywhere — catalog readers keep all-or-nothing visibility,
  * which is the boundary this layer exists to provide. The orphaned table
  * version is ordinary history: retention (vacuum) reclaims it.
  */
object Catalog {

  /** One catalog state: table name → (table root, pinned version). */
  final case class CatManifest(
      version: Long,
      parent: Long,
      ts: Long,
      tables: Map[String, (String, Long)])

  private val CatDir = "_catalog"
  private val ManifestRe = "manifest-(\\d+)\\.json".r

  private def manifestPath(catRoot: String, v: Long) =
    new Path(s"$catRoot/$CatDir/manifest-$v.json")

  /** Latest catalog version, 0 when none committed yet. */
  def headVersion(spark: SparkSession, catRoot: String): Long = {
    val dir = new Path(s"$catRoot/$CatDir")
    val f = EngineFs.of(spark, catRoot)
    if (!f.exists(dir)) 0L
    else f.listStatus(dir).toSeq
      .flatMap(st => ManifestRe.findFirstMatchIn(st.getPath.getName).map(_.group(1).toLong))
      .maxOption.getOrElse(0L)
  }

  /** Pin catalog version v (default: head) — the consistency boundary a
    * reader holds for its whole multi-table query. */
  def pin(spark: SparkSession, catRoot: String, version: Long = -1L): CatManifest = {
    val v = if (version >= 0) version else headVersion(spark, catRoot)
    require(v > 0, s"no catalog snapshot committed at $catRoot yet")
    val p = manifestPath(catRoot, v)
    val f = EngineFs.of(spark, catRoot)
    require(f.exists(p), s"catalog snapshot $v does not exist at $catRoot")
    val in = f.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    parse(text)
  }

  /** Pin the catalog as of wall-clock `tsMillis`: the newest catalog
    * version whose publish timestamp is ≤ `tsMillis` (same-millisecond
    * ties: highest version — consistent with table-level
    * [[Snapshots.readAsOf]]). "The whole lake as the Tuesday run saw it":
    * one wall-clock pin resolves EVERY member table to the versions that
    * were jointly visible then, so a reproduced multi-table job cannot mix
    * a Tuesday fact table with a Wednesday dim. Cost is the catalog
    * manifests only (small: name→(root, version) maps) — no table I/O. */
  def pinAsOf(spark: SparkSession, catRoot: String, tsMillis: Long): CatManifest = {
    val dir = new Path(s"$catRoot/$CatDir")
    val f = EngineFs.of(spark, catRoot)
    val versions =
      if (!f.exists(dir)) Seq.empty[Long]
      else f.listStatus(dir).toSeq
        .flatMap(st => ManifestRe.findFirstMatchIn(st.getPath.getName).map(_.group(1).toLong))
    val eligible = versions.sorted.map(v => pin(spark, catRoot, v)).filter(_.ts <= tsMillis)
    require(eligible.nonEmpty,
      s"no catalog snapshot at $catRoot published at or before $tsMillis")
    eligible.maxBy(_.version)
  }

  /** Read `table` as the whole catalog stood at wall-clock `tsMillis`. */
  def readAsOf(spark: SparkSession, catRoot: String, table: String, tsMillis: Long): DataFrame =
    read(spark, pinAsOf(spark, catRoot, tsMillis), table)

  /** Read `table` through a pinned catalog state. */
  def read(spark: SparkSession, pinned: CatManifest, table: String): DataFrame = {
    val (root, v) = pinned.tables.getOrElse(table,
      sys.error(s"table '$table' is not in catalog v${pinned.version} " +
        s"(has: ${pinned.tables.keys.toSeq.sorted.mkString(", ")})"))
    Snapshots.read(spark, root, v)
  }

  /** Commit a batch to EACH table (ordinary snapshot commits), then
    * atomically flip the catalog to the resulting version set. Tables the
    * catalog already tracks but this commit doesn't touch carry forward at
    * their pinned versions. Returns the new catalog version. */
  def commit(
      spark: SparkSession,
      catRoot: String,
      batches: Map[String, (String, DataFrame)],
      append: Boolean = true,
      statsCols: Map[String, Seq[String]] = Map.empty): Long = {
    require(batches.nonEmpty, "catalog commit needs at least one table batch")
    EngineFs.install(spark.sparkContext)
    // member tables are independent roots: commit them CONCURRENTLY (the
    // snapshot layer supports concurrent same-session commits by design;
    // guide §2.6 — overlapping independent jobs back-fills each write's
    // tail), then publish the catalog binding once, as before
    val committed: Map[String, (String, Long)] =
      if (batches.sizeIs <= 1)
        batches.map { case (name, (root, df)) =>
          name -> (root, Snapshots.commit(df, root, append,
            statsCols.getOrElse(name, Seq.empty)))
        }
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(4, batches.size))
        try {
          val futs = batches.toSeq.map { case (name, (root, df)) =>
            name -> (root, pool.submit(new java.util.concurrent.Callable[Long] {
              override def call(): Long = Snapshots.commit(df, root, append,
                statsCols.getOrElse(name, Seq.empty))
            }))
          }
          futs.map { case (name, (root, fut)) =>
            val v =
              try fut.get()
              catch {
                case e: java.util.concurrent.ExecutionException =>
                  throw Option(e.getCause).getOrElse(e)
              }
            name -> (root, v)
          }.toMap
        } finally pool.shutdown()
      }
    publishCat(spark, catRoot, committed)
  }

  /** Flip the catalog to explicit (table → root, version) bindings — for
    * compositions where the table versions were produced by merge/delete/
    * compact rather than plain commits. */
  def publish(
      spark: SparkSession,
      catRoot: String,
      bindings: Map[String, (String, Long)]): Long =
    publishCat(spark, catRoot, bindings)

  private def publishCat(
      spark: SparkSession,
      catRoot: String,
      updates: Map[String, (String, Long)]): Long = {
    var attempt = 0
    while (true) {
      attempt += 1
      require(attempt <= 50, s"gave up committing catalog at $catRoot after 50 collisions")
      val head = headVersion(spark, catRoot)
      val carried =
        if (head > 0) pin(spark, catRoot, head).tables else Map.empty[String, (String, Long)]
      val m = CatManifest(head + 1, head, System.currentTimeMillis(), carried ++ updates)
      if (tryWrite(spark, catRoot, m)) return m.version
    }
    0L // unreachable
  }

  /** Same scheme-gated atomic no-replace publish as table manifests
    * ([[Snapshots.atomicNoReplace]]): throws on filesystems where a racing
    * committer could silently overwrite a published catalog version. */
  private def tryWrite(spark: SparkSession, catRoot: String, m: CatManifest): Boolean = {
    val f = EngineFs.of(spark, catRoot)
    f.mkdirs(new Path(s"$catRoot/$CatDir"))
    val target = manifestPath(catRoot, m.version)
    val tmp = new Path(s"$catRoot/$CatDir/.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, /*overwrite=*/ true)
    try out.write(render(m).getBytes("UTF-8")) finally out.close()
    try Snapshots.atomicNoReplace(f, tmp, target) finally f.delete(tmp, false)
  }

  private def render(m: CatManifest): String = {
    val tables = m.tables.toSeq.sortBy(_._1).map { case (n, (root, v)) =>
      s"""{"name":${graft.JsonStr(n)},"root":${graft.JsonStr(root)},"v":$v}"""
    }.mkString("[", ",", "]")
    s"""{"version":${m.version},"parent":${m.parent},"ts":${m.ts},"tables":$tables}"""
  }

  private def parse(text: String): CatManifest = {
    def longField(key: String): Long =
      s""""$key":(-?\\d+)""".r.findFirstMatchIn(text)
        .map(_.group(1).toLong)
        .getOrElse(sys.error(s"bad catalog manifest: missing $key in $text"))
    val entry =
      """\{"name":"((?:[^"\\]|\\.)*)","root":"((?:[^"\\]|\\.)*)","v":(\d+)\}""".r
    val tables = entry.findAllMatchIn(text).map { g =>
      unescape(g.group(1)) -> (unescape(g.group(2)), g.group(3).toLong)
    }.toMap
    CatManifest(longField("version"), longField("parent"), longField("ts"), tables)
  }

  private def unescape(s: String): String = {
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
