package graft

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.engine.{Catalog, CommitArbiter, NioRawLocalFileSystem, Snapshots}

/** A simulated object store: local bytes behind a scheme whose `rename`
  * REPLACES an existing destination (RawLocalFileSystem maps to rename(2) /
  * copy — the S3A/GCS connector shape, where rename is copy-then-delete
  * check-then-act) and whose only safe publish primitive is the store's
  * conditional create. Registered as `s3sim://` via fs.s3sim.impl. It is
  * the engine's raw local FS under another scheme, so it starts no `chmod`
  * process per create either. */
class SimObjectStoreFS extends NioRawLocalFileSystem {
  override def getScheme: String = "s3sim"
  override def getUri: java.net.URI = java.net.URI.create("s3sim:///")
}

/** The S3 `If-None-Match: *` conditional-PUT shape: create `target` iff no
  * object exists there, atomically ON THE SERVER. The JVM-global lock
  * stands in for the store's server-side arbitration (two concurrent
  * conditional PUTs of one key: exactly one succeeds). Visibility is
  * ATOMIC, as on a real object store — a PUT object appears only COMPLETE,
  * never half-written — so the bytes land under a hidden staging name and
  * flip in via rename while holding the key's arbitration (a create-then-
  * append simulation would let a concurrent reader observe an EMPTY
  * manifest, a state no real conditional PUT can expose). */
object SimConditionalPut extends CommitArbiter {
  private val inFlight = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def commitIfAbsent(f: FileSystem, tmp: Path, target: Path): Boolean = {
    val key = f.makeQualified(target).toString
    if (!inFlight.add(key)) return false // lost to a concurrent conditional PUT
    try {
      if (f.exists(target)) false // object already exists: precondition failed
      else {
        // staging name must NOT contain the target's name: the head listing
        // matches manifest names by pattern, and a staging object that
        // embeds "manifest-N.json" would read as a phantom head
        val staging = new Path(target.getParent,
          s".put-${java.util.UUID.randomUUID().toString.take(12)}")
        val in = f.open(tmp)
        val out = f.create(staging, /*overwrite=*/ true)
        try {
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        } finally { in.close(); out.close() }
        // atomic visibility flip; target's absence is guarded by the
        // server-side arbitration we still hold
        require(f.rename(staging, target), s"sim PUT flip failed for $target")
        true
      }
    } finally inFlight.remove(key)
  }
}

/** The pluggable commit arbiter: the snapshot/catalog flip reduced to one
  * store primitive, so an object store (no atomic no-replace rename) plugs
  * in its conditional-PUT instead of silently losing commits.
  */
class ArbiterSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.s3sim.impl", classOf[SimObjectStoreFS].getName)

  private def tmp(): String =
    "s3sim://" + Files.createTempDirectory("s3sim").toString + "/t"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.as[(Long, String)].collect().toSet

  test("the simulated store's rename replaces an existing destination — why rename cannot arbitrate") {
    val dir = Files.createTempDirectory("s3simren").toString
    val f = new Path(s"s3sim://$dir").getFileSystem(spark.sparkContext.hadoopConfiguration)
    def write(p: Path, s: String): Unit = {
      val o = f.create(p, true); try o.write(s.getBytes("UTF-8")) finally o.close()
    }
    val a = new Path(s"s3sim://$dir/a"); val b = new Path(s"s3sim://$dir/b")
    write(a, "A"); write(b, "B")
    // on a store like this, rename "wins" even when the destination exists —
    // a racing committer's published manifest would be silently clobbered
    assert(f.rename(a, b), "rename reported failure")
    val in = f.open(b)
    val got = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    assert(got === "A", "destination should have been replaced (the hazard)")
  }

  test("an unregistered object-store scheme refuses the flip loudly (no silent lost commits)") {
    CommitArbiter.unregister("s3sim")
    val e = intercept[UnsupportedOperationException] {
      Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), tmp())
    }
    assert(e.getMessage.contains("commit arbiter"))
  }

  test("racing committers serialize through the conditional-put arbiter on the simulated store") {
    CommitArbiter.register("s3sim", SimConditionalPut)
    val root = tmp()
    Snapshots.commit(Seq((1L, "base")).toDF("id", "s"), root)
    // three appends race; the conditional PUT is the only arbiter — each
    // version is won by exactly one committer, losers observe and retry
    val racers = Seq("a", "b", "c").map(s => Future(
      Snapshots.commit(Seq((s(0).toLong, s)).toDF("id", "s"), root, append = true)))
    val got = racers.map(Await.result(_, 120.seconds)).toSet
    assert(got === Set(2L, 3L, 4L), s"racers took versions $got")
    assert(rows(Snapshots.read(spark, root)) ===
      Set((1L, "base"), ('a'.toLong, "a"), ('b'.toLong, "b"), ('c'.toLong, "c")))
    // every intermediate state is a whole-commit state (no torn manifest)
    (1L to 4L).foreach(v => assert(Snapshots.read(spark, root, v).count() === v))
  }

  test("catalog publish rides the same arbiter: consistent pinning on the simulated store") {
    CommitArbiter.register("s3sim", SimConditionalPut)
    val catRoot = tmp(); val tRoot = tmp(); val uRoot = tmp()
    Catalog.commit(spark, catRoot, Map(
      "t" -> (tRoot, Seq((1L, "t1")).toDF("id", "s")),
      "u" -> (uRoot, Seq((9L, "u1")).toDF("id", "s"))))
    val pinned = Catalog.pin(spark, catRoot)
    // a later table-only commit is invisible through the pinned catalog
    Snapshots.commit(Seq((2L, "t2")).toDF("id", "s"), tRoot, append = true)
    assert(rows(Catalog.read(spark, pinned, "t")) === Set((1L, "t1")))
    assert(rows(Catalog.read(spark, pinned, "u")) === Set((9L, "u1")))
  }
}
