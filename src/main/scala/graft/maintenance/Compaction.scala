package graft.maintenance

import graft.merge.Intervals
import graft.model.{EpochManifest, EpochStats}
import graft.table.IceTable
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Maintenance compaction (SURVEY.md §2.9): the reference runs verifier-gated
 * MapReduce compaction jobs per dataset under a time budget (MRCompactor /
 * CompactionSuite, gobblin-compaction/.../MRCompactor.java;
 * CompactionSource.java:99,427 — per-dataset subsets, never the world;
 * audit-count verifier CompactionAuditCountVerifier.java). Spark-native
 * version, BUCKET-SCOPED:
 *
 *  - compact only buckets whose manifest file count reaches
 *    `minFilesPerBucket` (the fragmentation signal available from metadata
 *    alone); all other buckets' files carry forward BY REFERENCE — at 100 TB
 *    you compact the fragmented slice, never rewrite the table,
 *  - rewrite each selected bucket into one file (small-file control — the
 *    bi-level packer's goal, SURVEY.md §2.8),
 *  - purge delete tombstones whose lastSeq lies at or below the SAFE
 *    horizon. Safe = the table's contiguous committed prefix: no future
 *    event can carry a smaller seq than the first committed gap, so a
 *    tombstone below it can never be out-raced by a late stale update.
 *    (Tombstones in carried-forward buckets purge when those buckets are
 *    eventually selected; a full pass is `minFilesPerBucket = 1`.)
 *  - verifier gate in ONE pass: row counters ride the rewrite job as an
 *    `Observation`, and the written files are checked against them via
 *    parquet FOOTER record counts (metadata-only IO, no second data scan —
 *    the r2 version re-read every written row to count it). On violation
 *    the new snapshot is NOT committed (files become unreferenced orphans).
 */
object Compaction {

  /** Largest seq S such that every partition's committed intervals cover
    * (-inf, S] contiguously FROM THE LOG ORIGIN (lowSeq == -1, i.e. seq 0) —
    * tombstones at or below S are safe to purge. A partition whose first
    * committed interval does NOT start at the origin contributes
    * Long.MinValue (no purge): files can arrive out of order, so a run
    * anchored mid-log (e.g. (199,299]) says nothing about seqs 0..199 still
    * outstanding — purging against its high could let a later-arriving older
    * update resurrect a deleted key. */
  def safeHorizon(m: EpochManifest): Long =
    Intervals.contiguousOriginPrefix(m.offsets)

  final case class CompactionReport(
      version: Long,
      purgedTombstones: Long,
      liveRows: Long,          // live rows in the REWRITTEN buckets
      files: Int,              // total files in the new snapshot
      compactedBuckets: Int,
      carriedFiles: Int)       // files carried forward by reference

  /** `minFilesPerBucket = 1` (default) is a full pass — every bucket
    * rewrites and all safe tombstones purge (routine CoW merges leave one
    * file per bucket, so a files-count threshold alone would never select
    * them). Pass 2+ for scoped maintenance of salted/fragmented buckets. */
  def compact(spark: SparkSession, table: IceTable,
              minFilesPerBucket: Int = 1): CompactionReport =
    // observation-safe: an ALL-PURGE rewrite is runtime-empty, and AQE's
    // empty-relation propagation would prune the verifier's CollectMetrics
    // node — obs.get below would hang forever (graft.table.AqeSafety)
    graft.table.AqeSafety.withObservationsSafe(spark) {
    val parent = table.currentManifest().getOrElse(
      throw new IllegalStateException("nothing to compact"))
    val horizon = safeHorizon(parent)

    // fragmentation from the manifest alone — no data IO to plan
    val byBucket = parent.files.groupBy(_.bucket)
    val fragBuckets = byBucket.collect {
      case (b, fs) if fs.size >= minFilesPerBucket => b
    }.toSet
    val (fragFiles, carried) =
      parent.files.partition(f => fragBuckets.contains(f.bucket))
    if (fragFiles.isEmpty)
      return CompactionReport(parent.version, 0, 0, parent.files.size, 0,
        carried.size)

    // read IN PLACE per bucket (DSv2 bucket scan): the rewrite is then
    // filter → write with ZERO shuffle — each bucket's files are read and
    // rewritten as one compacted file by a single task (alignedByBucket
    // coalesces whole buckets into core-sized tasks instead of
    // repartitioning). At 100 TB compaction moves no rows across the network.
    val raw = table.readFilesBucketAligned(spark, fragFiles, parent.schemaId)
    val obs = Observation(s"compact-${parent.version}")
    // null-safe: a null `deleted` must count as live AND survive the rewrite
    // (an un-coalesced filter(!NULL) would drop it while the live counter
    // kept it, permanently failing the verifier)
    val purgeable =
      coalesce(col("deleted"), lit(false)) && col("lastSeq") <= horizon
    val kept = raw
      .observe(obs,
        sum(when(purgeable, 1L).otherwise(0L)).as("purged"),
        sum(when(!purgeable, 1L).otherwise(0L)).as("keptRows"),
        sum(when(!coalesce(col("deleted"), lit(false)), 1L).otherwise(0L))
          .as("liveBefore"))
      .filter(!purgeable)

    // unique data dir per compaction, disjoint from ingest epoch ids
    val compactionEpochId = 1000000000L + parent.version
    val newFiles = table.writeEpochFiles(kept, compactionEpochId,
      parent.schemaId, alignedByBucket = true,
      nBuckets = table.bucketCountOf(Some(parent)))

    val metrics = org.apache.spark.sql.GraftSqlBridge
      .awaitObservation(spark, obs, "compaction-verifier")
    val purged = metrics("purged").asInstanceOf[Long]
    val keptRows = metrics("keptRows").asInstanceOf[Long]
    val liveBefore = metrics("liveBefore").asInstanceOf[Long]

    // Verifier gate (audit-count analog) — two independent checks, neither
    // a data re-read:
    //  1. the PUBLISHED files' footer record counts (metadata-only —
    //     writeEpochFiles fills them via FileStats' bounded+timed pool)
    //     must sum to the rows the rewrite observed — catches loss between
    //     the filter and the publish;
    //  2. an end-to-end live-row recount over the published files must
    //     equal the live count the Observation saw BEFORE the rewrite —
    //     catches a semantically wrong purge predicate (which check 1, fed
    //     by the same filter, cannot). The recount scans ONLY the boolean
    //     `deleted` column (column pruning — about a bit per row), not the
    //     table data, so it is not the full second read this replaced.
    val counted = newFiles
    // footer counts are this verifier's evidence — a stats-less entry
    // (degraded footer read) means the check CANNOT pass; abort before
    // commit (files stay unreferenced orphans) instead of comparing junk
    require(counted.forall(_.rows >= 0),
      s"compaction verifier failed: footer counts unavailable for " +
        s"${counted.filter(_.rows < 0).map(_.path).mkString(", ")}; " +
        "aborting (no commit)")
    val writtenRows = counted.map(_.rows).sum
    require(writtenRows == keptRows,
      s"compaction verifier failed: rewrite observed $keptRows kept rows " +
        s"but published files hold $writtenRows; aborting (no commit)")
    val liveAfter = table.readFiles(spark, counted, parent.schemaId)
      .filter(!coalesce(col("deleted"), lit(false)))
      .count()
    require(liveAfter == liveBefore,
      s"compaction verifier failed: live rows $liveBefore -> $liveAfter; " +
        "aborting (no commit)")

    val manifest = parent.copy(
      version = parent.version + 1,
      epochId = compactionEpochId,
      files = (carried ++ counted).sortBy(f => (f.bucket, f.path)),
      stats = EpochStats(0, 0, 0, 0, 0, 0),
      parentVersion = parent.version,
      // stamp the purge mark iff tombstone rows actually vanished: the
      // change feed uses the mark's MOVEMENT between two versions as the
      // (metadata-only) proof that a key may have gone live→absent inside
      // that window and the removed-file delete synthesis must run
      purgedBelowSeq =
        if (purged > 0) math.max(parent.purgedBelowSeq, horizon)
        else parent.purgedBelowSeq)
    val committed = table.commit(manifest)
    graft.metrics.Metrics.emit("graft.maintenance", "CompactionFinished", Map(
      "table" -> table.dir,
      "version" -> committed.version.toString,
      "purgedTombstones" -> purged.toString,
      "liveRows" -> liveBefore.toString,
      "files" -> committed.files.size.toString,
      "compactedBuckets" -> fragBuckets.size.toString,
      "carriedFiles" -> carried.size.toString))
    CompactionReport(committed.version, purged, liveBefore,
      committed.files.size, fragBuckets.size, carried.size)
    }
}
