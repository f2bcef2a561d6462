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

  /** Rewrite `root`'s v1 shard body through `edit`, as an earlier binary
    * would have written it. Shards are immutable and process-cached, so the
    * doctored body lands under a NEW name and the manifest is re-pointed.
    * ONE definition for every suite that fabricates legacy shards, so a
    * format change cannot silently leave a spec testing a malformed relic. */
  def rewriteShard(root: String)(edit: String => String): Unit = {
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
      .find(_.getName.startsWith("shard-"))
      .getOrElse(fail(s"no shard under $root"))
    val nn = s"shard-${java.util.UUID.randomUUID().toString.replace("-", "").take(16)}.json"
    writeText(new org.apache.hadoop.fs.Path(snap, nn), edit(readText(shard)))
    val mp = new org.apache.hadoop.fs.Path(snap, "manifest-1.json")
    writeText(mp, readText(mp).replace(shard.getName, nn))
  }

  /** Age `root`'s v1 shard back to the PRE-round-17 generation: strip the
    * `"tsus"` canon marker and convert the `ts` column's recorded stats
    * from micros to the old rounded-seconds unit. */
  def ageShardToSecondsCanon(root: String, tsCol: String = "ts"): Unit =
    rewriteShard(root) { text =>
      (""""col":"""" + java.util.regex.Pattern.quote(tsCol) +
        """","min":([-0-9.eE]+),"max":([-0-9.eE]+)""").r
        .replaceAllIn(text.replace(""""tsus":true,""", ""), m =>
          s""""col":"$tsCol","min":${m.group(1).toDouble / 1e6},"max":${m.group(2).toDouble / 1e6}""")
    }
}
