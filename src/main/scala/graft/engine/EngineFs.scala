package graft.engine

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The engine's one file-system seam: every engine lookup of a table's,
  * object's or catalog's file system goes through [[EngineFs.of]], which
  * first installs the engine's `file:` file system ([[NioLocalFileSystem]])
  * for the session.
  *
  * Why: without Hadoop's native library, the stock `RawLocalFileSystem`
  * sets permissions by forking `chmod` — once per created file, per `.crc`
  * side file and per directory `mkdirs` makes. The engine FS sets the same
  * bits through NIO instead. Object-store schemes are untouched: only
  * `file:` ever forked.
  */
object EngineFs {

  private val ImplKey = "fs.file.impl"
  private val LocalUri = URI.create("file:///")
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The context [[install]] last ran for; reads are the fast path. */
  @volatile private var installedOn: SparkContext = null

  /** The file system of `path`, with the engine's `file:` FS installed. */
  def of(spark: SparkSession, path: String): FileSystem = {
    install(spark.sparkContext)
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
  }

  /** The file system of `path` under a caller's conf (a task's, a
    * writer's), for code that has no session at hand. */
  def of(path: Path, conf: Configuration): FileSystem = path.getFileSystem(conf)

  /** Make `file:` resolve to [[NioLocalFileSystem]] in this context.
    * Idempotent. Sets `fs.file.impl` on the context's Hadoop conf, from
    * which every session and writer conf is copied, and evicts a stock
    * local FS the session already cached: Hadoop's FileSystem cache is
    * keyed by scheme, authority and user, not by conf, and a session caches
    * one at start when it qualifies its warehouse path. Closing a local FS
    * only frees its cache slot and runs the paths registered with
    * `deleteOnExit` on that instance; Spark's core and SQL register none
    * (only Hive's insert staging does). A `fs.file.impl` the user set is
    * left alone. */
  def install(sc: SparkContext): Unit =
    if (installedOn ne sc) synchronized {
      if (installedOn ne sc) {
        val conf = sc.hadoopConfiguration
        val ours = classOf[NioLocalFileSystem].getName
        val set = conf.getTrimmed(ImplKey, "")
        if (set.nonEmpty && set != ours)
          log.warn(s"$ImplKey is set to $set; the engine keeps it, so local " +
            "file creates may fork a chmod process each")
        else {
          conf.set(ImplKey, ours)
          val cached = FileSystem.get(LocalUri, conf)
          if (!cached.isInstanceOf[NioLocalFileSystem]) {
            cached.close()
            FileSystem.get(LocalUri, conf)
          }
        }
        installedOn = sc
      }
    }

  /** Undo [[install]]: drop the engine's `fs.file.impl`, close the cached
    * engine instance and clear the install mark, so the next `file:` lookup
    * builds a stock local FS. For specs of the install itself. */
  private[graft] def uninstall(sc: SparkContext): Unit = synchronized {
    val conf = sc.hadoopConfiguration
    if (conf.getTrimmed(ImplKey, "") == classOf[NioLocalFileSystem].getName)
      conf.unset(ImplKey)
    val cached = FileSystem.get(LocalUri, conf)
    if (cached.isInstanceOf[NioLocalFileSystem]) cached.close()
    installedOn = null
  }
}

/** Hadoop's checksummed local file system (`.crc` side files, checksum
  * verification) over [[NioRawLocalFileSystem]]. It is a `LocalFileSystem`,
  * so `FileSystem.getLocal` and every cast to one keep working. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's raw local file system, with `setPermission` done through
  * `java.nio.file.Files.setPosixFilePermissions` instead of a forked
  * `chmod`, and bytes counted into the stock `file` statistics. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `FileSystem.initialize` keys statistics by class, and the global
    * storage statistics keep the first provider registered under a scheme,
    * so a subclass's own counters would never be reported. Count into the
    * stock raw FS's, registering them first if no stock FS did yet. A
    * subclass under another scheme keeps its own. */
  override def initialize(uri: URI, conf: Configuration): Unit = {
    val stock =
      if (uri.getScheme == "file") Some(FileSystem.getStatistics("file", classOf[RawLocalFileSystem]))
      else None
    super.initialize(uri, conf)
    stock.foreach(s => statistics = s)
  }

  /** The nine permission bits through NIO: `chmod(2)` with the same mode
    * Hadoop's forked `chmod %04o` would set. Hadoop's own path stays in
    * charge where the two could differ: with the native library (no fork
    * there), for the sticky bit (NIO cannot set it), on a file system
    * without POSIX attributes, and on a directory carrying setuid or setgid
    * (GNU `chmod` keeps those on a directory for a four-digit mode, NIO
    * would clear them). */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (NativeIO.isAvailable || permission.getStickyBit || !NioRawLocalFileSystem.sameAsChmod(file))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(
      Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL).mkString))
  }
}

object NioRawLocalFileSystem {
  // st_mode fields (octal 06000, 0170000 and 040000)
  private val SetId = 0xc00
  private val FileType = 0xf000
  private val Dir = 0x4000

  /** Whether setting the nine bits through NIO leaves `file` as `chmod`
    * would: it has a POSIX mode, and it is not a directory with setuid or
    * setgid set. */
  private def sameAsChmod(file: java.nio.file.Path): Boolean =
    try {
      val m = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      (m & FileType) != Dir || (m & SetId) == 0
    } catch { case _: UnsupportedOperationException | _: IllegalArgumentException => false }
}
