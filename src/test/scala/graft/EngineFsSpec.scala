package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.engine.{EngineFs, NioLocalFileSystem, S3Like, Snapshots, Warehouse}

/** The engine's `file:` file system: installed by the engine verbs
  * themselves, with the permission bits, checksums and byte counters of
  * Hadoop's default local FS, and no forked process per create. */
class EngineFsSpec extends SparkSpec {
  import spark.implicits._

  private val localUri = URI.create("file:///")
  private def conf = spark.sparkContext.hadoopConfiguration
  private def cachedLocal: FileSystem = FileSystem.get(localUri, conf)
  private def small = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")

  /** `file:`'s class without the engine: the classpath's registration
    * (Hive's `ProxyLocalFileSystem` when Spark ships hive-exec). */
  private val stockClass = FileSystem.getFileSystemClass("file", new Configuration())

  /** Run `body` from a session whose cache holds the stock local FS, as a
    * plain session has after start; the engine FS is back afterwards. */
  private def fromStock(body: => Unit): Unit =
    try {
      EngineFs.uninstall(spark.sparkContext)
      assert(cachedLocal.getClass === stockClass)
      body
    } finally {
      conf.unset("fs.file.impl")
      EngineFs.uninstall(spark.sparkContext)
      EngineFs.install(spark.sparkContext)
    }

  test("putDf, upload and commit each install the engine FS over a cached stock one") {
    val base = Files.createTempDirectory("enginefs").toString
    val verbs = Seq[(String, () => Unit)](
      "S3Like.putDf" -> (() => S3Like.putDf(small, s"$base/obj", format = "csv")),
      "Warehouse.upload" -> { () =>
        spark.sql("DROP TABLE IF EXISTS enginefs_t")
        Warehouse.upload(spark, small, "enginefs_t")
      },
      "Snapshots.commit" -> (() => Snapshots.commit(small, s"$base/t")))
    try verbs.foreach { case (name, verb) =>
      fromStock {
        verb()
        assert(cachedLocal.isInstanceOf[NioLocalFileSystem], name)
        assert(new Path(s"$base/t").getFileSystem(conf).isInstanceOf[NioLocalFileSystem], name)
        assert(conf.get("fs.file.impl") === classOf[NioLocalFileSystem].getName, name)
      }
    } finally spark.sql("DROP TABLE IF EXISTS enginefs_t")
  }

  test("an explicitly set fs.file.impl is left alone") {
    val root = Files.createTempDirectory("enginefs").toString + "/t"
    fromStock {
      conf.set("fs.file.impl", classOf[LocalFileSystem].getName)
      Snapshots.commit(small, root)
      assert(conf.get("fs.file.impl") === classOf[LocalFileSystem].getName)
      assert(cachedLocal.getClass === stockClass)
      assert(Snapshots.read(spark, root).count() === 3)
    }
    assert(cachedLocal.isInstanceOf[NioLocalFileSystem])
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff // 07777

  private def chmod(p: JPath, m: String): Unit =
    assert(new ProcessBuilder("chmod", m, p.toString).start().waitFor() === 0)

  /** The modes (and `.crc` bytes) one FS leaves on a fixed set of creates
    * under `base`, keyed by path relative to `base`. */
  private def layout(fs: FileSystem, base: JPath): Map[String, Any] = {
    def p(rel: String) = new Path(base.resolve(rel).toUri)
    assert(fs.mkdirs(p("d/e")))
    val o = fs.create(p("d/e/f.txt"), true)
    try o.write("hello".getBytes("UTF-8")) finally o.close()
    fs.create(p("d/g.bin"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close()
    assert(fs.mkdirs(p("d/h"), new FsPermission("750")))
    assert(fs.mkdirs(p("sticky")))
    fs.setPermission(p("sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
    chmod(base.resolve("sg"), "2775") // setgid parent: mkdir under it inherits setgid
    assert(fs.mkdirs(p("sg/child")))
    val files = Files.walk(base).iterator().asScala.filter(_ != base).toSeq
    files.map { f =>
      val rel = base.relativize(f).toString
      rel -> (if (rel.endsWith(".crc")) (mode(f), Files.readAllBytes(f).toSeq) else mode(f))
    }.toMap
  }

  test("files, directories and .crc side files get the default FS's permission bits") {
    for (umask <- Seq(None, Some("077"))) {
      val c = new Configuration()
      umask.foreach(c.set("fs.permissions.umask-mode", _))
      def run(fs: FileSystem): Map[String, Any] = {
        fs.initialize(localUri, c)
        val base = Files.createTempDirectory("perm")
        Files.createDirectory(base.resolve("sg"))
        try layout(fs, base) finally fs.close()
      }
      val stock = run(new LocalFileSystem())
      val engine = run(new NioLocalFileSystem())
      assert(stock.keySet.exists(_.endsWith(".f.txt.crc")), stock.keySet)
      assert(engine === stock, s"umask ${umask.getOrElse("default")}")
      assert(stock("sticky") === Integer.parseInt("1777", 8))
      assert((stock("sg/child").asInstanceOf[Int] & 0x400) != 0) // setgid kept
      if (umask.nonEmpty) assert(stock("d/e/f.txt") === Integer.parseInt("600", 8))
    }
  }

  test("the global file byte counters grow by the bytes a commit writes") {
    val root = Files.createTempDirectory("enginefs").toString + "/t"
    EngineFs.of(spark, root)
    val st = FileSystem.getGlobalStorageStatistics.get("file")
    val before = st.getLong("bytesWritten").longValue
    Snapshots.commit(spark.range(0, 2000, 1, 2).selectExpr("id", "cast(id as string) as s"), root)
    val grew = st.getLong("bytesWritten").longValue - before
    val onDisk = Files.walk(java.nio.file.Paths.get(root)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    assert(onDisk > 0)
    assert(grew >= onDisk, s"counters grew by $grew, the commit wrote $onDisk bytes")
  }

  test("local appends, commits, merges, putDf and upload start no process") {
    val base = Files.createTempDirectory("nofork").toString
    def writes(tag: String): Unit = {
      val root = s"$base/$tag/t"
      Snapshots.commit(small, root)
      Snapshots.commit(Seq((4L, "d")).toDF("id", "s"), root, append = true)
      Snapshots.commit(spark.range(0, 1000, 1, 4).selectExpr("id", "cast(id as string) as s"),
        root, append = true)
      Snapshots.merge(Seq((2L, "B"), (9L, "z")).toDF("id", "s"), root, "id")
      S3Like.putDf(small, s"$base/$tag/obj", format = "csv")
      spark.sql(s"DROP TABLE IF EXISTS nofork_$tag")
      Warehouse.upload(spark, small, s"nofork_$tag")
    }
    try {
      writes("warm") // class loading and one-time probes happen here
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try writes("measured") finally rec.stop()
      val out = Files.createTempFile("nofork", ".jfr")
      try {
        rec.dump(out)
        // the starts the engine's writes cause run through Hadoop (a forked
        // chmod or ls) or the engine itself; Spark's executor-metrics probe
        // (`getconf PAGESIZE`, once per JVM on the first heartbeat) does not
        val started = jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.map { e =>
          val frames = Option(e.getStackTrace).map(_.getFrames.asScala.toSeq).getOrElse(Nil)
            .map(f => f.getMethod.getType.getName + "." + f.getMethod.getName)
          (e.getString("command"), frames)
        }
        val ours = started.filter(_._2.exists(f => f.startsWith("org.apache.hadoop.") || f.startsWith("graft.")))
        assert(ours.isEmpty, ours.map { case (c, fs) => c + " from " + fs.take(16).mkString(" < ") }.mkString("\n"))
      } finally { rec.close(); Files.deleteIfExists(out) }
    } finally Seq("warm", "measured").foreach(t => spark.sql(s"DROP TABLE IF EXISTS nofork_$t"))
  }
}
