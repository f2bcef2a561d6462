package graft.diag

import graft._
import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** Diagnostic main (graft.diag is excluded from the bench fingerprint):
  * per-job wall-clock timeline for a
  * subset of queries — attributes a query's time to its build steps. */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val only = sys.env.getOrElse("SPARK_GRAFT_ONLY", "q95_histogram_quantiles")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val starts = TrieMap[Int, (Long, String)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        starts.put(j.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        starts.remove(j.jobId).foreach { case (t0, desc) =>
          val ms = (System.nanoTime() - t0) / 1e6
          lines.add(f"    job ${j.jobId}%4d ${ms}%8.1f ms  $desc")
        }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val m = i.taskMetrics
        if (m != null)
          lines.add(f"      stage ${i.stageId}%4d tasks=${i.numTasks}%3d " +
            f"run=${m.executorRunTime}%6d deser=${m.executorDeserializeTime}%5d " +
            f"gc=${m.jvmGCTime}%4d cpu=${m.executorCpuTime / 1000000}%6d " +
            i.name.take(60))
      }
    })
    // warmup
    SparkEntry.queries.get("q01_pricing_summary").foreach { f =>
      try { f(spark, sfDir).count(); spark.catalog.clearCache() } catch { case _: Throwable => () }
    }
    val reps = sys.env.get("SPARK_GRAFT_REPS").flatMap(_.toIntOption).getOrElse(1)
    for (r <- 1 to reps)
      SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => only.contains(kv._1)).foreach {
        case (name, fn) =>
          lines.clear()
          val t0 = System.nanoTime()
          fn(spark, sfDir).groupBy().count().collect()
          val sec = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300)
          println(f"== $name (rep $r): $sec%.3f s")
          lines.forEach(l => println(l))
          spark.catalog.clearCache()
      }
    spark.stop()
  }
}
