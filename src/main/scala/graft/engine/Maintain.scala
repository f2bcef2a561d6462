package graft.engine

import org.apache.spark.sql.SparkSession

/** One knob object for everything a snapshot table needs to stay healthy.
  * Fields that are 0 / empty / negative mean "skip that step" — the
  * default policy is metadata-only (consolidate manifest shards, touch
  * nothing else), the cheapest always-safe setting.
  *
  * @param compactTargetFiles > 0: rewrite the head's data into this many
  *   files ([[Snapshots.compact]]) — the small-file fix
  * @param zorderDims non-empty: the data rewrite z-order-clusters on these
  *   dimensions instead ([[Snapshots.compactZOrder]]) — the range-pruning
  *   fix; `compactTargetFiles` then sizes the layout (min 1)
  * @param statsCols per-file min/max stats to collect on the rewrite
  *   (z-order defaults to its own dims when empty)
  * @param compactManifests consolidate accumulated metadata shards into
  *   one ([[Snapshots.compactManifests]]); cheap, default on
  * @param vacuumKeepLast > 0: destroy history beyond the newest N versions
  *   ([[Snapshots.vacuum]]) — the only data-deleting step, default off
  * @param orphanGraceMs >= 0: sweep unreferenced data/shard files older
  *   than this grace window ([[Snapshots.vacuumOrphans]]); default off
  * @param bloomCols string-key bloom index to re-collect on the data
  *   rewrite — a bloom-indexed table MUST carry its bloomCols into
  *   maintenance or the rewritten files lose the index (pruning degrades
  *   to conservative; correctness holds)
  * @param materializeDvFraction >= 0: rewrite files whose deletion-vector
  *   fraction reaches this threshold ([[Snapshots.materializeDvs]]) —
  *   bounds the scan amplification merge-on-read deletes accumulate
  *   (0.0 = materialize every vectored file); default off (-1). Skipped
  *   when a full data rewrite runs anyway (compact/z-order already
  *   materialize as a side effect)
  * @param branchTtlMs >= 0: drop branches whose last commit is older than
  *   this ([[Branches.dropExpired]]) — forgotten staging branches pin
  *   their fork-base files against vacuum forever (the cross-chain
  *   reference counting working as designed), so long-lived tables need
  *   the TTL sweep; runs BEFORE vacuum/orphans so the same maintenance
  *   pass reclaims what the expired branches alone pinned. Default off
  * @param rowTtlCol with `rowTtlMs` >= 0: ROW retention — rows whose
  *   `rowTtlCol` (LONG epoch millis, or a timestamp read as UTC) is older
  *   than `rowTtlMs` leave the table via a merge-on-read
  *   [[Snapshots.deleteWhere]], the GDPR/log-retention sweep as policy
  *   instead of a hand-written delete. Runs FIRST, so the same pass's
  *   compaction materializes the vectors and vacuum ages out the rows'
  *   files; stats-pruned, so the steady-state sweep touches only the
  *   files whose range crosses the moving cutoff. Default off */
final case class MaintenancePolicy(
    compactTargetFiles: Int = 0,
    zorderDims: Seq[String] = Seq.empty,
    statsCols: Seq[String] = Seq.empty,
    compactManifests: Boolean = true,
    vacuumKeepLast: Int = 0,
    orphanGraceMs: Long = -1L,
    bloomCols: Seq[String] = Seq.empty,
    materializeDvFraction: Double = -1.0,
    branchTtlMs: Long = -1L,
    rowTtlCol: String = "",
    rowTtlMs: Long = -1L)

/** Consolidated table maintenance — the verbs [[Snapshots]] exposes one by
  * one (compact, z-order, manifest consolidation, vacuum, orphan sweep),
  * sequenced under a single policy object so operators stop hand-ordering
  * five calls. The order is the safe one:
  *
  *  1. data rewrite (compact / z-order) — creates a new version; doing it
  *     first lets the same run's vacuum reclaim the pre-rewrite layout if
  *     retention allows;
  *  2. manifest consolidation — metadata only, bounds shard-ref growth;
  *  3. vacuum — drops old manifests and the files only they referenced;
  *  4. orphan sweep — unreferenced debris behind its grace window.
  *
  * Every step is the public verb itself, so `maintain` is exactly
  * equivalent to the manual sequence (the spec pins that). Returns the
  * head version after maintenance. */
object Maintain {

  def maintain(
      spark: SparkSession,
      root: String,
      policy: MaintenancePolicy = MaintenancePolicy()): Long = {
    // a half-configured retention pair is a compliance sweep that looks
    // configured but never runs — refuse loudly, like every other
    // misconfiguration in the engine
    require(policy.rowTtlCol.nonEmpty == (policy.rowTtlMs >= 0),
      "rowTtlCol and rowTtlMs must be configured together")
    if (policy.rowTtlMs >= 0 && policy.rowTtlCol.nonEmpty &&
        Snapshots.headVersion(spark, root) > 0) {
      import org.apache.spark.sql.functions.{col, lit}
      import org.apache.spark.sql.types._
      val cutoffMs = System.currentTimeMillis() - policy.rowTtlMs
      // the column type comes from the manifest's recorded schema (one
      // small metadata file), not a full head resolve
      val headV = Snapshots.headVersion(spark, root)
      val schema = Snapshots
        .parseSchemaStr(Snapshots.manifestMeta(spark, root, headV).schema)
      val cutoff = schema(policy.rowTtlCol).dataType match {
        case LongType => lit(cutoffMs)
        case TimestampNTZType => lit(java.time.LocalDateTime.ofEpochSecond(
          math.floorDiv(cutoffMs, 1000L),
          (math.floorMod(cutoffMs, 1000L) * 1000000L).toInt,
          java.time.ZoneOffset.UTC))
        case TimestampType => lit(java.time.Instant.ofEpochMilli(cutoffMs))
        case other => sys.error(
          s"rowTtlCol '${policy.rowTtlCol}' must be LONG epoch-millis or a " +
            s"timestamp, got $other")
      }
      Snapshots.deleteWhere(spark, root, col(policy.rowTtlCol) < cutoff,
        statsCols = policy.statsCols, bloomCols = policy.bloomCols)
    }
    if (policy.zorderDims.nonEmpty)
      Snapshots.compactZOrder(spark, root, policy.zorderDims,
        math.max(policy.compactTargetFiles, 1), policy.statsCols,
        bloomCols = policy.bloomCols)
    else if (policy.compactTargetFiles > 0)
      Snapshots.compact(spark, root, policy.compactTargetFiles, policy.statsCols,
        bloomCols = policy.bloomCols)
    else if (policy.materializeDvFraction >= 0.0)
      // targeted vector materialization only when no full rewrite ran
      // (compact/z-order already read vectors-applied and rewrite clean)
      Snapshots.materializeDvs(spark, root, policy.materializeDvFraction,
        policy.statsCols, bloomCols = policy.bloomCols)
    if (policy.compactManifests)
      Snapshots.compactManifests(spark, root)
    if (policy.branchTtlMs >= 0)
      Branches.dropExpired(spark, root, policy.branchTtlMs)
    if (policy.vacuumKeepLast > 0)
      Snapshots.vacuum(spark, root, policy.vacuumKeepLast)
    if (policy.orphanGraceMs >= 0)
      Snapshots.vacuumOrphans(spark, root, policy.orphanGraceMs)
    Snapshots.headVersion(spark, root)
  }
}
