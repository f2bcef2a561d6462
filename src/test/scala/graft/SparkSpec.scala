package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  // val (not def): `import spark.implicits._` needs a stable identifier
  val spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf

  /** Count Spark jobs started while `body` runs. Listener events post
    * asynchronously — poll until the count is stable. */
  def countJobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 10000) {
        Thread.sleep(100); waited += 100
        val cur = n.get()
        if (cur == last) stable += 1 else { stable = 0; last = cur }
      }
      n.get()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** Rewrite one of `root`'s shard bodies — the first whose text `select`
    * accepts — through `edit`, to model a shard this engine does not write
    * itself (a foreign footer's stats, a state an older commit path left).
    * Shards are immutable and process-cached, so the doctored body lands
    * under a NEW name and the head manifest is re-pointed. ONE definition
    * for every suite that doctors shards. */
  def rewriteShard(root: String, select: String => Boolean = _ => true)(
      edit: String => String): Unit = {
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = new org.apache.hadoop.fs.Path(s"$root/_snapshots")
    def readText(p: org.apache.hadoop.fs.Path): String = {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    def writeText(p: org.apache.hadoop.fs.Path, s: String): Unit = {
      val out = f.create(p, true)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    val shard = f.listStatus(snap).map(_.getPath)
      .filter(_.getName.startsWith("shard-"))
      .find(p => select(readText(p)))
      .getOrElse(fail(s"no matching shard under $root"))
    val nn = s"shard-${java.util.UUID.randomUUID().toString.replace("-", "").take(16)}.json"
    writeText(new org.apache.hadoop.fs.Path(snap, nn), edit(readText(shard)))
    val head = graft.engine.Snapshots.headVersion(spark, root)
    val mp = new org.apache.hadoop.fs.Path(snap, s"manifest-$head.json")
    writeText(mp, readText(mp).replace(shard.getName, nn))
  }
}
