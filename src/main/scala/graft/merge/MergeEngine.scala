package graft.merge

import graft.model._
import graft.pipeline.RowPolicies
import graft.table.{IceTable, SchemaRegistry}
import org.apache.spark.sql.{Column, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Epoch apply: quality-check → offset-interval fence → key dedup →
 * seq-aware copy-on-write MERGE into the IceTable → atomic manifest commit.
 *
 * This is the Spark-native re-expression of the reference's task dataflow
 * (extractor → converters → row-quality → writer → publisher,
 * gobblin-runtime/.../StreamModelTaskRunner.java:79-170) collapsed into one
 * declarative plan per epoch, with Gobblin's commit machinery
 * (FineGrainedWatermarkTracker + IcebergMetadataWriter.flush) replaced by a
 * single atomic snapshot commit whose manifest carries the committed
 * per-partition offset ranges (the replay fence).
 *
 * Delivery-order safety: micro-batches need NOT arrive in seq order.
 *  - The fence drops only events lying INSIDE an already-committed offset
 *    interval (exact replays) — the reference's connected-range fence
 *    (IcebergMetadataWriter.mergeOffsets, :406-435), generalized to interval
 *    sets so an out-of-order batch is never wrongly dropped.
 *  - The MERGE itself is last-writer-wins BY SEQ against the stored row's
 *    `lastSeq`, with delete tombstones — a true LWW register per key, so
 *    applying batches in any order converges to the same table. Tombstones
 *    keep late stale updates from resurrecting deleted keys; the compaction
 *    job purges them once the log horizon passes (SURVEY.md §2.9).
 *
 * Scale notes (designed for 1000 executors / 100 TB):
 *  - Dedup is two-phase argmax: a 24-byte-per-key envelope aggregate (the
 *    payload columns are pruned out of the scan) plus a broadcast winner
 *    join — no payload bytes ever shuffle. Falls back to a single-shuffle
 *    max_by(struct) hash aggregate (map-side combined, NOT a window sort)
 *    when the winner set is too large to broadcast. Either way a hot key
 *    collapses map-side, so Zipf skew costs one combined row per task,
 *    not a skewed reducer.
 *  - The MERGE join runs only over buckets the epoch touches (bucket pruning
 *    via the manifest file list); untouched buckets' files carry forward by
 *    reference — rewrite amplification is bounded by bucket width.
 *  - Counters come from one small collect on the deduped output plus an
 *    `Observation` evaluated inside the write job — no extra passes.
 */
object MergeEngine {

  private val timing = sys.env.get("SPARK_GRAFT_TIMING").contains("1")

  /** winner sets up to this ESTIMATED SIZE (key bytes + per-row overhead)
    * dedup via broadcast argmax join; larger epochs fall back to the shuffle
    * max_by aggregate. Bytes-based, not row-count-based: 2M long-string keys
    * would be a multi-hundred-MB broadcast (driver/executor OOM risk at 1000
    * executors) while 2M short keys are fine — the decision must follow the
    * actual payload. Conf `spark.graft.maxBroadcastBytes` overrides per
    * session (also how the fallback path is forced under test). */
  private def maxBroadcastBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.maxBroadcastBytes")
      .orElse(sys.env.get("SPARK_GRAFT_MAX_BCAST_BYTES"))
      .map(_.toLong).getOrElse(67108864L) // 64 MB
  private def timed[T](name: String)(f: => T): T =
    if (!timing) f else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[timing] $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

  final case class EpochOutcome(
      manifest: EpochManifest,
      skipped: Boolean,          // fully fenced (replayed epoch)
      stats: EpochStats)

  /** Per-log-partition id — keyed like a Kafka partition: stable hash of the
    * record key, so per-partition watermarks are meaningful under re-reads. */
  def logPartitionCol(nLogPartitions: Int): Column =
    pmod(xxhash64(col("repo"), col("path")), lit(nLogPartitions)).cast("int")

  /** committed interval set per partition from a manifest */
  def committedIntervals(m: Option[EpochManifest]): Map[Int, Seq[(Long, Long)]] =
    m.map(_.offsets.groupBy(_.partitionId).map { case (p, rs) =>
      p -> Intervals.normalize(rs.map(r => (r.lowSeq, r.highSeq)))
    }).getOrElse(Map.empty)

  /** per-partition committed high watermark (for lineage/lag reporting) */
  def committedHighs(m: Option[EpochManifest]): Map[Int, Long] =
    committedIntervals(m).map { case (p, ivs) => p -> Intervals.maxHigh(ivs) }

  /** per-partition high watermarks of an offset list */
  def partitionHighs(offsets: Seq[OffsetRange]): Map[Int, Long] =
    offsets.groupBy(_.partitionId)
      .map { case (p, rs) => p -> rs.map(_.highSeq).max }

  /** max-min spread of partition highs (the watermark-lag signal shared by
    * lineage, ops metrics, and the health check) */
  def lagSpread(offsets: Seq[OffsetRange]): Long = {
    val highs = partitionHighs(offsets).values
    if (highs.isEmpty) 0L else highs.max - highs.min
  }

  /** Commit with OPTIMISTIC REBASE on CAS failure — the reference commits
    * through an Iceberg transaction whose whole metadata pipeline retries
    * on conflict (IcebergMetadataWriter.flush,
    * gobblin-iceberg/.../writer/IcebergMetadataWriter.java:834-905). When a
    * concurrent writer won the snapshot race, re-read the NEW parent and
    * re-commit iff the interleaver's changes are provably disjoint from
    * this epoch's:
    *  - no bucket this epoch rewrote had its file set changed (same-bucket
    *    interleaving would make this epoch's CoW output stale),
    *  - the interleaver's newly committed offset intervals do not overlap
    *    this epoch's claims (overlap could double-account the same events),
    *  - same schema, same bucket layout, same log-partition universe (a
    *    schema evolution / rebucket / universe change interleaving is not a
    *    mechanical rebase — the epoch must replan).
    * On any non-rebasable conflict the original CAS error propagates: the
    * single-writer-per-table discipline remains the documented norm, this
    * is the 100×-operations upgrade for the disjoint case (e.g. a
    * compaction of cold buckets landing under a hot-bucket ingest epoch). */
  private def commitWithRebase(
      table: IceTable,
      manifest: EpochManifest,
      parent0: Option[EpochManifest],
      affectedBuckets: Set[Int],
      claimsFor: Int => Seq[(Long, Long)],
      nLogPartitions: Int,
      maxRetries: Int = 3): EpochManifest = {
    // union over partitions: the disjointness check below is against the
    // interleaver's GLOBAL claim footprint (seqs are globally unique)
    lazy val claimedIvs: Seq[(Long, Long)] = Intervals.normalize(
      (0 until nLogPartitions).flatMap(claimsFor))
    var m = manifest
    var par = parent0
    var left = maxRetries
    while (true) {
      try return table.commit(m)
      catch {
        case e: IllegalArgumentException if left > 0 =>
          left -= 1
          val np = table.currentManifest().getOrElse(throw e)
          def byBucket(fs: Seq[graft.model.DataFileEntry]) =
            fs.groupBy(_.bucket).map { case (b, l) => b -> l.map(_.path).toSet }
          val ob = byBucket(par.map(_.files).getOrElse(Nil))
          val nb = byBucket(np.files)
          val interleaverTouched = (ob.keySet ++ nb.keySet).filter(b =>
            ob.getOrElse(b, Set.empty) != nb.getOrElse(b, Set.empty))
          val oldIv = committedIntervals(par)
          val newIv = committedIntervals(Some(np))
          val claims = Intervals.normalize(claimedIvs)
          val claimsDisjoint = newIv.keySet.forall(p =>
            Intervals.intersect(claims, newIv(p)) ==
              Intervals.intersect(claims, oldIv.getOrElse(p, Nil)))
          val bucketOverlap = interleaverTouched.intersect(affectedBuckets)
          if (np.schemaId != m.schemaId ||
              table.bucketCountOf(Some(np)) != m.numBuckets ||
              newIv.keySet != oldIv.keySet ||
              bucketOverlap.nonEmpty || !claimsDisjoint)
            throw new IllegalArgumentException(
              s"concurrent writer conflict is not rebasable (bucket " +
                s"overlap=${bucketOverlap.toSeq.sorted.mkString(",")} " +
                s"claimsDisjoint=$claimsDisjoint schema=${np.schemaId}/" +
                s"${m.schemaId} buckets=${table.bucketCountOf(Some(np))}/" +
                s"${m.numBuckets}); single-writer rule applies", e)
          // re-apply the universe WIDENING against the NEW parent exactly
          // like the main path (committedIv): partitions this epoch added
          // must re-enter with the intersection fence, or the rebased
          // manifest would carry claim-only intervals that stall the
          // completeness/purge horizons (state stays right — LWW absorbs —
          // but the horizons must not regress to claim fragments)
          val newIvWidened =
            if (newIv.isEmpty) newIv
            else {
              val missing = (0 until nLogPartitions).toSet -- newIv.keySet
              if (missing.isEmpty) newIv
              else {
                val common = newIv.values.reduce(Intervals.intersect)
                newIv ++ missing.map(_ -> common).toMap
              }
            }
          val offsets2 = Intervals.mergeClaims(newIvWidened, nLogPartitions,
            claimsFor)
          m = m.copy(
            version = np.version + 1,
            parentVersion = np.version,
            // untouched buckets take the NEW parent's files (they carry the
            // interleaver's changes); this epoch's rewritten buckets keep
            // its output — the interleaver provably didn't touch them
            files = (np.files.filterNot(f =>
                affectedBuckets.contains(f.bucket)) ++
              m.files.filter(f => affectedBuckets.contains(f.bucket)))
              .sortBy(f => (f.bucket, f.path)),
            offsets = offsets2,
            completeUntilSeq = math.max(np.completeUntilSeq,
              Intervals.contiguousOriginPrefix(offsets2)),
            // the purge mark is TABLE history and must stay monotone across
            // a rebase: an interleaved compaction that purged tombstones
            // advanced np.purgedBelowSeq, and a rebased ingest manifest
            // that reverted it would hide the purge from a change-feed
            // window spanning this commit (the feed's removed-file delete
            // synthesis is gated on the mark moving) — silent delete loss
            // on mirrors
            purgedBelowSeq = math.max(m.purgedBelowSeq, np.purgedBelowSeq))
          par = Some(np)
          System.err.println(s"[graft] commit conflict: rebased epoch " +
            s"${m.epochId} onto version ${np.version} (disjoint buckets/" +
            s"claims); retrying (${left} left)")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** post-commit tracking event (gobblin-metrics GobblinTrackingEvent
    * analog; see graft.metrics.Metrics) — emitted AFTER the snapshot is
    * durable, so external consumers never see an event for a snapshot that
    * does not exist. No reporters registered ⇒ nothing is built. */
  private def emitCommitEvent(table: IceTable, m: EpochManifest,
      st: EpochStats, skipped: Boolean): Unit =
    graft.metrics.Metrics.emit("graft.ingest", "EpochCommitted", Map(
      "table" -> table.dir,
      "epochId" -> m.epochId.toString,
      "version" -> m.version.toString,
      "metadataOnly" -> skipped.toString,
      "completeUntilSeq" -> m.completeUntilSeq.toString,
      "rowsExtracted" -> st.rowsExtracted.toString,
      "rowsQuarantined" -> st.rowsQuarantined.toString,
      "dedupDrops" -> st.dedupDrops.toString,
      "rowsApplied" -> st.rowsApplied.toString,
      "deletesApplied" -> st.deletesApplied.toString,
      "staleDrops" -> st.staleDrops.toString))

  /**
   * Apply one epoch of change events to `table`. Idempotent: events inside
   * an already-committed offset interval are filtered out; an epoch whose
   * events are all fenced commits no new snapshot. Order-independent: stale
   * events lose LWW against `lastSeq` instead of corrupting state.
   */
  def applyEpoch(
      spark: SparkSession,
      table: IceTable,
      rawEvents: Dataset[ChangeEvent],
      epochId: Long,
      nLogPartitions: Int = 32,
      quarantineDir: Option[String] = None,
      pipeline: graft.pipeline.Transform.T = graft.pipeline.Transform.identity,
      taskPolicies: Seq[graft.pipeline.TaskPolicies.Policy] =
        Seq(graft.pipeline.TaskPolicies.RowCountReconciliation()),
      rowPolicies: Seq[RowPolicies.Policy] = RowPolicies.defaults,
      claimedRange: Option[(Long, Long)] = None,
      // PER-PARTITION claim sets (takes precedence over claimedRange): for
      // callers that know exactly which seq intervals each log partition
      // completely observed — e.g. a MIRROR claiming the upstream's
      // committed-interval delta so its offset state converges to the
      // upstream's partition by partition. A union claim would be WRONG
      // there: claiming a lagging partition's still-unobserved range on
      // its behalf fences those events when the upstream later commits
      // them — silent data loss on the mirror.
      claimedSet: Option[Map[Int, Seq[(Long, Long)]]] = None,
      // ONLY for quarantine reprocess (QuarantineReprocess.run): admit rows
      // whose seqs sit inside committed intervals. Quarantine is terminal —
      // a quarantined row's seq was claimed but its effect provably never
      // reached the table — so re-admission cannot double-apply; and the
      // LWW merge is STRICT (`u.seq > c.lastSeq`), so even a repeated
      // reprocess of the same survivor is a stale-drop, not a re-apply.
      admitClaimed: Boolean = false): EpochOutcome = {
    import spark.implicits._

    // The merge join is co-partitioned on `bucket` ALONE (a function of the
    // join key, same partition count both sides). Spark's default co-
    // partition check demands ALL join keys in the partitioning, which would
    // stack a second (repo,path)-keyed exchange on each side; relaxing it is
    // safe — hash-partitioning on a subset of the join keys still co-locates
    // equal keys — and is scoped to this epoch's plan construction.
    // The two v2.bucketing confs make Catalyst honor the bucket-aligned
    // scan's reported KeyGroupedPartitioning and accept co-partitioning
    // against the winner side laid out in the same key-grouped layout
    // (storage-partitioned join; without `shuffle.enabled` EnsureRequirements
    // refuses the match and re-shuffles BOTH sides).
    // The excludedRules entry keeps AQE's empty-relation propagation from
    // pruning CollectMetrics nodes out of runtime-empty plans — on a
    // FULLY-FENCED replay epoch the winner aggregate is empty by design,
    // and without this the epoch's observations would never fire (see
    // graft.table.AqeSafety).
    // the excludedRules value is derived PER SESSION below (merging with
    // that session's own exclusions, not the outer session's)
    val AqeKey = "spark.sql.adaptive.optimizer.excludedRules"
    // TINY-EPOCH AQE GATE (guide §1.2 step 3, measured r7): AQE's value —
    // runtime skew splitting and partition coalescing — is proportional to
    // data volume, but its cost (one driver re-planning round-trip plus a
    // separate scheduled job per materialized exchange) is paid per STAGE
    // regardless of size. An epoch admitting a small offset span (catch-up
    // trickle, replay tail, mirror delta of a quiet window) runs its 2
    // multi-stage jobs fastest as static plans: measured on the c3 replay
    // (4 epochs × ~37k events), AQE-off cut the query ~20% with no plan
    // regression (the engine's own salting handles write skew, and
    // shuffle partitioning is already keyed by bucket). Epochs above
    // `spark.graft.aqeMinClaimedEvents` (default 1M) — and epochs whose
    // size is UNKNOWN (segment-claimed batches) — keep AQE on: at real
    // scale skew-join splitting and coalescing matter far more than the
    // per-stage overhead.
    val claimedSpan: Option[Long] = claimedSet match {
      case Some(m) => Some(Intervals.normalize(m.values.flatten.toSeq)
        .map { case (lo, hi) => hi - lo }.sum)
      case None => claimedRange.map { case (lo, hi) => hi - lo }
    }
    val aqeMinEvents = spark.conf.getOption("spark.graft.aqeMinClaimedEvents")
      .map(_.toLong).getOrElse(1000000L)
    val tinyEpoch = claimedSpan.exists(_ < aqeMinEvents)
    // parent + bucket count resolved BEFORE the conf scope (plain metadata
    // reads; the tiny-epoch partition clamp below needs the bucket count)
    val parent = table.currentManifest()
    val parentVersion = parent.map(_.version).getOrElse(-1L)
    // bucket count of THIS table's committed layout, resolved ONCE from the
    // parent manifest (rebucket migrations record it per snapshot)
    val nBuckets = table.bucketCountOf(parent)
    // Tiny epochs also CLAMP shuffle partitions to the table's bucket count
    // (never raising the session's setting): with AQE off there is no
    // runtime coalescing, and a trickle epoch's aggregate shuffles gain
    // nothing from the cluster-wide default sized for big jobs: the write
    // packs whole buckets into core-sized tasks (IceTable.writeEpochFiles),
    // so a shuffle partition finer than a bucket buys no write parallelism.
    // Measured on the c3 replay at 32-core local: 32→16 partitions cut the
    // query ~15%.
    val tinyParts: Seq[(String, String)] =
      if (!tinyEpoch) Nil
      else {
        val cur = spark.conf.getOption("spark.sql.shuffle.partitions")
          .map(_.toInt).getOrElse(200)
        Seq("spark.sql.shuffle.partitions" ->
          math.max(1, math.min(nBuckets, cur)).toString)
      }
    val scopedConfs = Seq(
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true") ++
      (if (tinyEpoch) Seq("spark.sql.adaptive.enabled" -> "false") else Nil) ++
      tinyParts
    // Inside foreachBatch the batch Dataset is bound to the STREAM'S CLONED
    // session (own SQLConf); a conf set only on the outer session would not
    // reach the batch plans' adaptive re-optimization. Scope the confs on
    // BOTH sessions (they share one SparkContext).
    val confSessions =
      if (rawEvents.sparkSession eq spark) Seq(spark)
      else Seq(spark, rawEvents.sparkSession)
    val prevConfs = confSessions.flatMap(s =>
      (scopedConfs.map(_._1) :+ AqeKey).map(k => (s, k, s.conf.getOption(k))))
    confSessions.foreach { s =>
      scopedConfs.foreach { case (k, v) => s.conf.set(k, v) }
      s.conf.set(AqeKey, graft.table.AqeSafety.mergedExcludedRules(s))
    }
    try {
    // Log-partition-universe GROWTH (the reference discovers partitions at
    // runtime, KafkaSource.java:198, and persists offsets even for empty
    // WUs, :404-411): partitions NEW to the committed universe enter fenced
    // by the INTERSECTION of all existing partitions' committed intervals.
    // Every commit stamps its claims onto ALL partitions, so a seq present
    // in every existing set was observed-and-committed regardless of which
    // partition its key hashes to under the grown universe — fencing it on
    // the new partition is safe, and an origin-anchored intersection keeps
    // the completeness/purge horizons advancing instead of freezing them at
    // MinValue. (Conservative: a seq fenced on no/only some old partitions
    // stays unfenced here; the LWW merge absorbs any such replay.) The
    // widened universe persists with this epoch's commit. SHRINKING remains
    // a fail-fast — dropping partitions would strand their claims and pin
    // the horizons forever.
    val committedIv: Map[Int, Seq[(Long, Long)]] = {
      val base = committedIntervals(parent)
      if (base.isEmpty) base
      else {
        require(base.keySet.subsetOf((0 until nLogPartitions).toSet),
          s"nLogPartitions=$nLogPartitions would SHRINK the table's " +
            s"committed partition universe " +
            s"(${base.keySet.toSeq.sorted.mkString(",")}); growing is " +
            "supported, shrinking is not")
        val missing = (0 until nLogPartitions).toSet -- base.keySet
        if (missing.isEmpty) base
        else {
          val common = base.values.reduce(Intervals.intersect)
          base ++ missing.map(_ -> common).toMap
        }
      }
    }

    // --- 1. converter chain + quality gate (Converter/RowLevelPolicy) ----
    val withPart = pipeline(rawEvents.toDF())
      .withColumn("logPart", logPartitionCol(nLogPartitions))

    // quarantine write + count in ONE pass (Observation rides the write
    // job); a separate count() would re-scan the whole epoch input. With NO
    // quarantine sink configured, policy-discarded rows must still be
    // COUNTED (a silent drop would under-report extraction and hide the
    // discard from reconciliation): their count rides the winners aggregate
    // below as an Observation on the shared input plan — no extra pass.
    val inObs = Observation(s"input-$epochId-${System.nanoTime()}")
    val withPartObs =
      if (quarantineDir.isEmpty)
        withPart.observe(inObs,
          sum(when(!RowPolicies.passAll(rowPolicies), 1L).otherwise(0L))
            .as("bad"))
      else withPart
    val good = withPartObs.filter(RowPolicies.passAll(rowPolicies))
    val quarantinedEarly: Option[Long] = quarantineDir.map { dir =>
      val bad = withPart.filter(!RowPolicies.passAll(rowPolicies))
        .withColumn("reason", RowPolicies.failReason(rowPolicies))
      val qObs = Observation(s"quarantine-$epochId-${System.nanoTime()}")
      bad.observe(qObs, count(lit(1)).as("n"))
        .drop("logPart")
        .write.mode("overwrite").parquet(s"$dir/epoch=$epochId")
      org.apache.spark.sql.GraftSqlBridge
        .awaitObservation(spark, qObs, "quarantine-count")
        .apply("n").asInstanceOf[Long]
    }

    // --- 2. offset-interval fence (exact-replay dedup) -------------------
    // ALWAYS the native binary-search expression (graft.functions.
    // IntervalInside): O(log n) per row, constant plan size at ANY interval
    // count (no 64KB-codegen or optimizer-depth blowup on gap-dense
    // histories), and — the r7 motivation for dropping the old literal-tree
    // path for small sets — CODEGEN-STABLE ACROSS EPOCHS: the interval
    // bounds ride the plan as a codegen reference object
    // (ctx.addReferenceObj), not inlined literals, so every epoch's scan
    // stage generates the SAME source and hits the whole-stage-codegen
    // cache instead of paying a fresh Janino compile per epoch (measured
    // ~0.2 s/epoch of pure compilation on the c3 replay; the literal tree
    // changed with every newly committed interval). The search stays inside
    // whole-stage codegen with primitive arguments (the r3 scalar UDF here
    // boxed every row and leaked its broadcast).
    val fence: Column =
      if (committedIv.isEmpty) lit(true)
      else
        !graft.functions.IntervalInside(col("logPart"), col("seq"), committedIv)
    val fresh = if (admitClaimed) good else good.filter(fence)

    // --- 3. dedup: last-writer-wins by seq per key -----------------------
    // Two-phase argmax: phase A aggregates ONLY (key → max seq, count) —
    // a 16-byte-per-key state, so the scan is column-pruned to the envelope
    // (payload columns are never materialized; with a columnar/expression
    // source the content bytes aren't even generated/decoded). Phase B
    // broadcast-joins the winner (key, seq) set back onto the stream to pick
    // the winning rows — no shuffle of payload bytes at all. Falls back to
    // a single-shuffle max_by(struct) aggregate when the winner set is too
    // large to broadcast (the state-heavy but still skew-immune plan).
    //
    // TINY epochs (same gate as the AQE policy above) instead carry the
    // winning ROW through phase A itself: the max_by(struct) aggregate —
    // the SAME tie-break rule as the fallback path, so the chosen mode can
    // never change the table — rides the one pass that phase A must make
    // anyway, and phase B disappears entirely (no second source scan, no
    // broadcast build, no window rank in the merge job: one pass over the
    // input instead of two). Shuffling the payload once is the right trade
    // exactly when the claimed span bounds it small; big epochs keep the
    // payload-never-shuffles envelope discipline (guide §2.3/§8).
    val payloadDedup = tinyEpoch
    val winners = (
      if (payloadDedup)
        fresh.groupBy($"repo", $"path")
          .agg(max_by(struct($"op", $"seq", $"commit", $"lang", $"content"),
            struct($"seq", $"commit", $"op", $"lang", $"content")).as("e"),
            count(lit(1)).as("nEvents"))
          .select($"repo", $"path", $"e", $"e.seq".as("seq"), $"nEvents")
      else
        fresh.groupBy($"repo", $"path")
          .agg(max($"seq").as("seq"),
            count(lit(1)).as("nEvents")))
      .withColumn("bucket", table.bucketCol($"repo", $"path", nBuckets))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try { // unpersist `winners` on every exit (skip, abort, commit)

    // spark.graft.fileSkipping=false disables file-level pruning (A/B +
    // escape hatch); correctness never depends on it — a skipped file is
    // identical to its rewritten copy. Resolved once, up front, so the
    // disabled path pays NONE of the skipping machinery's cost.
    val skipEnabled = spark.conf
      .getOption("spark.graft.fileSkipping").forall(_.toBoolean)
    // key bounds are only worth aggregating when there is something they
    // could skip: parent files carrying key stats. Guarding here keeps the
    // per-row concat + min/max string work (and the per-bucket string
    // collect) out of the hot dedup aggregate for stats-less tables and
    // for skip-disabled runs.
    val wantKeyBounds = skipEnabled &&
      parent.exists(_.files.exists(f => f.minKey.isDefined))

    // one small collect (per-BUCKET rows): counters, bucket pruning,
    // broadcast sizing, salting weights, file-skip key bounds, all at once.
    // The key bounds use the SAME NUL-composed key encoding as the per-file
    // footer stats (graft.table.FileStats) so driver-side comparisons are
    // byte-order consistent with the recorded min/max.
    val keyExpr = concat($"repo", lit(graft.table.FileStats.KeySep), $"path")
    val baseAggs = Seq(count(lit(1)).as("nKeys"), sum($"nEvents").as("nEv"),
      sum(octet_length($"repo") + octet_length($"path")).as("keyBytes"))
    val aggs = if (wantKeyBounds)
      baseAggs ++ Seq(min(keyExpr).as("minKey"), max(keyExpr).as("maxKey"))
    else baseAggs
    val perGroup = timed("dedup+stats")(winners.groupBy($"bucket")
      .agg(aggs.head, aggs.tail: _*)
      .collect())
    val freshCount = perGroup.map(_.getAs[Long]("nEv")).sum
    val upsertCountEarly = perGroup.map(_.getAs[Long]("nKeys")).sum
    // estimated broadcast payload: key OCTETS (length() counts chars and
    // would undercount multi-byte UTF-8 keys up to 3-4x against a gate
    // whose whole point is actual bytes) + ~48B row overhead
    val winnerBytes = perGroup.map(_.getAs[Long]("keyBytes")).sum +
      48L * upsertCountEarly

    val quarantined: Long = quarantinedEarly.getOrElse {
      // the winners job above was the first action over the observed input.
      // Bounded read (never a silent 0, never an unbounded block — see
      // GraftSqlBridge.awaitObservation); sum over zero bad rows is null.
      val v = org.apache.spark.sql.GraftSqlBridge
        .awaitObservation(spark, inObs, "policy-discard").get("bad").orNull
      if (v == null) 0L else v.asInstanceOf[Long]
    }

    // This epoch's claimed offset intervals, applied to EVERY partition —
    // including partitions with no events this epoch, which must still
    // persist offsets (the reference's empty-WorkUnit rule,
    // KafkaSource.java:404-411) so the purge horizon can advance and the
    // manifest stays at one merged interval per partition.
    //
    //  - Declared (batch replay knows its slice): one interval (lo, hi].
    //  - Segment (unknown batch provenance, e.g. a file-stream micro-batch):
    //    the EXACT contiguous runs of the batch's OBSERVED valid seqs — a
    //    gap inside the batch is NOT claimed (claiming it would fence its
    //    events when they arrive later: silent data loss), while claims
    //    include quarantined rows' seqs (quarantine is terminal; leaving
    //    them unclaimed would stall the completeness/purge horizon on a
    //    permanent gap). Runs are found distributedly in ONE pass: each
    //    distinct seq emits a "present" marker for itself and a
    //    "has-predecessor" marker for seq+1; after a single marker
    //    aggregation, a value where the two disagree is a run boundary
    //    (present-only = run start at v; predecessor-only = run end at v-1),
    //    and ONLY boundaries survive the filter. The driver collects them
    //    through an ordered top-k bounded by `spark.graft.maxClaimRuns`
    //    (default 65536 runs): a pathologically gap-dense batch (alternating
    //    seqs → millions of runs) claims only the lowest `cap` complete runs
    //    and logs the truncation — unclaimed seqs are simply re-observed
    //    later (the fence + LWW merge make re-pulls idempotent), so bounded
    //    driver memory costs no correctness.
    val claimedIvs: Seq[(Long, Long)] = claimedSet match {
      case Some(m) =>
        require(m.keySet.subsetOf((0 until nLogPartitions).toSet),
          s"claimedSet partitions ${m.keySet.toSeq.sorted.mkString(",")} " +
            s"outside universe 0..${nLogPartitions - 1}")
        Intervals.normalize(m.values.flatten.toSeq)
      case None => claimedRange match {
      case Some((lo, hi)) => Seq((lo, hi))
      case None =>
        val cap = spark.conf.getOption("spark.graft.maxClaimRuns")
          .map(_.toInt).getOrElse(65536)
        val boundaries = withPart.filter($"seq".isNotNull && $"seq" >= 0)
          .select($"seq").distinct()
          .select(explode(array(
            struct($"seq".as("v"), lit(1).as("self"), lit(0).as("succ")),
            struct(($"seq" + 1).as("v"), lit(0).as("self"), lit(1).as("succ"))
          )).as("m"))
          .groupBy($"m.v".as("v"))
          .agg(max($"m.self").as("s"), max($"m.succ").as("p"))
          .filter($"s" =!= $"p")
          .orderBy($"v")
          .limit(2 * cap + 1) // TakeOrdered: bounded driver memory
          .collect()
          .map(r => (r.getAs[Long]("v"), r.getAs[Int]("s")))
        // sorted boundaries strictly alternate start(s=1), end-marker(s=0);
        // an odd count means the cap truncated a trailing unfinished run.
        // Truncation is safe ONLY for re-observable sources (the unclaimed
        // seqs come around again and the fence/LWW make the re-pull
        // idempotent); an exactly-once checkpointed source never redelivers,
        // so unclaimed-but-applied seqs would freeze the completeness and
        // purge horizons forever — such callers (StreamingIngest) set
        // spark.graft.claimRunOverflow=fail to abort the epoch UNCOMMITTED
        // instead (operator raises the cap and restarts; the stream replays
        // the batch).
        val complete =
          if (boundaries.length > 2 * cap) {
            val policy = spark.conf
              .getOption("spark.graft.claimRunOverflow").getOrElse("truncate")
            if (policy == "fail")
              throw new IllegalStateException(
                s"segment-claim runs exceed cap=$cap under " +
                  "claimRunOverflow=fail; raise spark.graft.maxClaimRuns " +
                  "and retry (nothing was committed)")
            System.err.println(s"[graft] segment-claim runs exceed cap=$cap; " +
              s"claiming only the lowest $cap runs (rest re-observed later)")
            boundaries.take(2 * cap)
          } else boundaries
        complete.grouped(2).collect {
          case Array((vs, 1), (ve, 0)) => (vs - 1, ve - 1)
        }.toSeq
    } }
    val claimsFor: Int => Seq[(Long, Long)] = claimedSet match {
      case Some(m) => p => m.getOrElse(p, Nil)
      case None => _ => claimedIvs
    }
    def mergedOffsets: Seq[OffsetRange] =
      Intervals.mergeClaims(committedIv, nLogPartitions, claimsFor)

    if (freshCount == 0) {
      // everything was fenced or quarantined; counters must still reconcile
      // (extracted == quarantined here) and any NEW claims (a declared empty
      // slice, or quarantined-only segment runs) must persist so the fence
      // and completeness horizon advance — gated like every commit.
      val st = EpochStats(quarantined, quarantined, 0, 0, 0, 0)
      val mo = mergedOffsets
      val unchanged = parent match {
        case Some(pm) => pm.offsets.toSet == mo.toSet
        case None => mo.isEmpty || claimedIvs.isEmpty
      }
      if (unchanged) {
        // pure replay of fenced (and/or re-quarantined) data — no commit.
        val m = parent.getOrElse(
          EpochManifest(-1L, epochId, SchemaRegistry.baseSchemaId, Nil, Nil,
            st, -1L))
        return EpochOutcome(m, skipped = true, st)
      }
      graft.pipeline.TaskPolicies.enforce(taskPolicies, st)
      val complete0 = math.max(
        parent.map(_.completeUntilSeq).getOrElse(Long.MinValue),
        Intervals.contiguousOriginPrefix(mo))
      val m = parent
        .map(pm => pm.copy(version = pm.version + 1, epochId = epochId,
          offsets = mo, stats = st, parentVersion = pm.version,
          completeUntilSeq = complete0, numBuckets = nBuckets))
        .getOrElse(EpochManifest(0L, epochId, SchemaRegistry.baseSchemaId,
          Nil, mo, st, -1L, complete0, numBuckets = nBuckets))
      val committed = commitWithRebase(table, m, parent, Set.empty,
        claimsFor, nLogPartitions)
      emitCommitEvent(table, committed, st, skipped = true)
      return EpochOutcome(committed, skipped = true, st)
    }

    val upsertCount = upsertCountEarly
    val dedupDrops = freshCount - upsertCount

    // --- 4. seq-aware copy-on-write MERGE over affected buckets ----------
    val affectedBuckets: Set[Int] = perGroup.map(_.getAs[Int]("bucket")).toSet

    val schemaIdNow = parent.map(_.schemaId).getOrElse(SchemaRegistry.baseSchemaId)
    val targetSchema = SchemaRegistry.schemaFor(schemaIdNow)

    val parentFiles = parent.map(_.files).getOrElse(Seq.empty)
    val (bucketTouched, untouchedFiles) =
      parentFiles.partition(f => affectedBuckets.contains(f.bucket))

    // FILE-LEVEL DATA SKIPPING within touched buckets (Iceberg-metrics-
    // style scan pruning — the contract behind the reference's metadata
    // writer, IcebergMetadataWriter.java:349-383,664-672): a file of a
    // touched bucket whose manifest stats PROVE it holds no winner key is
    // carried forward BY REFERENCE instead of being read and rewritten.
    // Correct because the full-outer merge would emit such a file's rows
    // unchanged ("keep"), and key-disjointness guarantees the rewritten
    // bucket output shares no key with the skipped file. Two proofs:
    //  - key-range: the file's conservative [minKey, maxKey] (footer
    //    stats, NUL-composed) is disjoint from the bucket's winner key
    //    range (unsigned-byte comparison matching UTF8String order);
    //  - salt residue: a salted write recorded the exact residue class
    //    pmod(xxhash64(path), saltMod) = saltRes its file holds; if no
    //    winner in the bucket lands in that class, the file cannot match.
    //    This is THE post-salting payoff: a later small epoch touching a
    //    previously-salted hot bucket rewrites one salt slice, not all.
    // Files without stats are never skipped. Matches at 100 TB: the merge
    // reads what the epoch can change, not what the bucket holds.
    // (`skipEnabled`/`wantKeyBounds` were resolved up front, before the
    // winners aggregate, so a disabled run pays none of this cost.)
    val winnerKeyRange: Map[Int, (String, String)] =
      if (!wantKeyBounds) Map.empty
      else perGroup.map(r =>
        r.getAs[Int]("bucket") ->
          (r.getAs[String]("minKey"), r.getAs[String]("maxKey"))).toMap
    val saltMods =
      if (!skipEnabled) Seq.empty[Int]
      else bucketTouched
        .filter(f => f.saltMod > 1 && f.saltRes >= 0).map(_.saltMod).distinct
    // winner residue classes per bucket, one tiny aggregate per distinct
    // saltMod over the persisted winner envelopes (usually zero or one)
    val winnerResidues: Map[Int, Map[Int, Set[Int]]] = saltMods.map { m =>
      m -> winners.groupBy($"bucket")
        .agg(collect_set(pmod(xxhash64($"path"), lit(m)).cast("int")).as("rs"))
        .collect()
        .map(r => r.getAs[Int]("bucket") -> r.getAs[Seq[Int]]("rs").toSet)
        .toMap
    }.toMap
    def fileSkippable(f: graft.model.DataFileEntry): Boolean = {
      val keyDisjoint = (f.minKey, f.maxKey, winnerKeyRange.get(f.bucket)) match {
        case (Some(fmin), Some(fmax), Some((wmin, wmax)))
          if wmin != null && wmax != null =>
          graft.table.FileStats.keyCompare(fmax, wmin) < 0 ||
            graft.table.FileStats.keyCompare(fmin, wmax) > 0
        case _ => false
      }
      def residueMiss = f.saltMod > 1 && f.saltRes >= 0 &&
        !winnerResidues(f.saltMod).getOrElse(f.bucket, Set.empty[Int])
          .contains(f.saltRes)
      keyDisjoint || residueMiss
    }
    val (skippedFiles, touchedFiles) =
      if (skipEnabled) bucketTouched.partition(fileSkippable)
      else (Seq.empty[graft.model.DataFileEntry], bucketTouched)
    val keptFiles = untouchedFiles ++ skippedFiles

    // Bucket-aligned merge (storage-partitioned join): the target side is a
    // DSv2 scan over the touched buckets' files reporting
    // KeyGroupedPartitioning(bucket), and the winner side is laid out in the
    // EXACT same key-grouped layout (one partition per affected bucket,
    // ascending) — Catalyst recognises the co-partitioning, so the
    // full-outer join needs NO exchange on either side: the 100 TB target
    // is read in place per bucket and only the much smaller winner set
    // moves (once, inside the layout shuffle the dedup window also rides).
    // The same layout serves an EMPTY or near-empty target (a first epoch,
    // a table's first write into a bucket): its buckets scan as empty
    // partitions, and the write packs the touched buckets into at most
    // defaultParallelism tasks (IceTable.writeEpochFiles), so no per-bucket
    // task fan-out is paid. Payload-dedup epochs need this layout in any
    // case: their winner side has no window/rank on top, and
    // EnsureRequirements strips a bare user repartition directly under a
    // join (rewriting it to a full-key shuffle at the default partition
    // count, which un-clusters the bucket write into ~#buckets files per
    // task — measured 490 files/epoch instead of 16). The KGP layout is an
    // RDD-level barrier the planner cannot strip.
    if (timing)
      System.err.println(s"[timing]   touched=${touchedFiles.size} " +
        s"skipped=${skippedFiles.size} payload=$payloadDedup")
    // the partition-value universe BOTH sides must share: every bucket the
    // winners touch (buckets whose parent files exist but hold no winners
    // are untouched and carried forward — never scanned)
    val alignedBuckets: Seq[Int] = affectedBuckets.toSeq.sorted
    val current = table.readFilesBucketAligned(spark, touchedFiles,
      schemaIdNow, buckets = Some(alignedBuckets))

    // lay the winner side out exactly like the target scan
    def alignWinners(df: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      org.apache.spark.sql.GraftSqlBridge
        .dataFrameWithKeyGroupedPartitioning(spark, df, "bucket",
          alignedBuckets)

    val deduped: org.apache.spark.sql.DataFrame =
      if (payloadDedup) {
        // winners already carry the winning row (max_by above): project the
        // payload out of the persisted aggregate and lay it out — no second
        // pass over the input, no broadcast, no rank. The local sort is the
        // merge join's own required order (so it costs nothing extra) and,
        // critically, keeps the bucket layout: EnsureRequirements REPLACES a
        // user repartition sitting DIRECTLY under a join with a full-key
        // shuffle at the default partition count (verified on 4.1: a bare
        // repartition(16, bucket) under the full-outer merge became
        // hash(bucket, repo, path, 32) on both sides, exploding the
        // bucket-clustered write into ~bucketCount files per task), while a
        // sandwiched operator whose partitioning still satisfies the join's
        // clustering is accepted as-is.
        alignWinners(winners.select($"repo", $"path", $"e.op".as("op"),
          $"e.seq".as("seq"), $"e.commit".as("commit"),
          $"e.lang".as("lang"), $"e.content".as("content"), $"bucket"))
          .sortWithinPartitions($"bucket", $"repo", $"path")
      } else if (winnerBytes <= maxBroadcastBytes(spark)) {
        // phase B: winner rows via broadcast semi-equijoin on (key, seq),
        // then ONE layout shuffle by bucket (aligning with the merge join)
        // and a windowed rank that removes exact intra-batch duplicates —
        // two events with the SAME (key, seq), which at-least-once delivery
        // can produce inside one micro-batch and the cross-epoch fence
        // cannot see. The window's ClusteredDistribution(bucket,·) is
        // satisfied by the bucket layout and its sort IS the merge join's
        // required sort order, so dedup costs no extra exchange or sort.
        // Tie-break among same-(key, seq) rows is the LEXICOGRAPHIC MAX of
        // (commit, op, lang, content) — the identical rule the fallback's
        // max_by ordering applies, so which dedup path an epoch takes can
        // never change the table.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"bucket", $"repo", $"path")
          .orderBy($"commit".desc, $"op".desc, $"lang".desc, $"content".desc)
        alignWinners(fresh.join(
          broadcast(winners.select($"repo", $"path", $"seq", $"bucket")),
          Seq("repo", "path", "seq")))
          .withColumn("_rn", row_number().over(w))
          .filter($"_rn" === 1).drop("_rn")
      } else {
        // ordering struct mirrors the window tie-break above exactly
        alignWinners(fresh
          .groupBy($"repo", $"path")
          .agg(max_by(struct($"op", $"seq", $"commit", $"lang", $"content"),
            struct($"seq", $"commit", $"op", $"lang", $"content")).as("e"))
          .select($"repo", $"path", $"e.op".as("op"), $"e.seq".as("seq"),
            $"e.commit".as("commit"), $"e.lang".as("lang"),
            $"e.content".as("content"))
          .withColumn("bucket", table.bucketCol($"repo", $"path", nBuckets)))
      }

    // LWW resolution per target-schema column, by stable colId. The update
    // wins only if strictly newer than the stored row's lastSeq; a winning
    // delete writes a tombstone. Columns the ChangeEvent payload doesn't
    // carry (post-evolution additions) keep the current-row value.
    val updateColByColId = Map(1 -> "repo", 2 -> "path", 3 -> "commit",
      4 -> "lang", 5 -> "content")
    val u = deduped.as("u")
    val c = current.as("c")
    val uWins = $"u.seq".isNotNull &&
      ($"c.lastSeq".isNull || $"u.seq" > $"c.lastSeq")
    val isDel = uWins && $"u.op" === "d"
    val resolved: Seq[Column] = targetSchema.columns.map { tc =>
      tc.colId match {
        case 1 => col("repo")
        case 2 => col("path")
        case 6 => when(isDel, lit(null))
          .when(uWins, sha2($"u.content", 256))
          .otherwise(col(s"c.${tc.name}")).as(tc.name)
        case cid if updateColByColId.contains(cid) =>
          when(isDel, lit(null))
            .when(uWins, col(s"u.${updateColByColId(cid)}"))
            .otherwise(col(s"c.${tc.name}")).as(tc.name)
        case _ =>
          when(isDel, lit(null)).otherwise(col(s"c.${tc.name}")).as(tc.name)
      }
    } ++ Seq(
      when(uWins, $"u.seq").otherwise($"c.lastSeq").as("lastSeq"),
      when(isDel, lit(true)).when(uWins, lit(false))
        .otherwise(coalesce($"c.deleted", lit(false))).as("deleted"),
      when(isDel, "del").when(uWins, "up")
        .when($"u.seq".isNotNull, "stale").otherwise("keep").as("_tag"))

    val obs = Observation(s"epoch-$epochId-${System.nanoTime()}")
    // join ON (bucket, repo, path): bucket equality is implied by key
    // equality (both sides derive it from the key), and keeping it a join
    // key (a) lets the aligned partitioning satisfy the join's distribution
    // and (b) coalesces it in the using-join output for unmatched rows.
    val merged = c.join(u, Seq("bucket", "repo", "path"), "full_outer")
      .select((col("bucket") +: resolved): _*)
      .observe(obs,
        sum(when($"_tag" === "up", 1L).otherwise(0L)).as("up"),
        sum(when($"_tag" === "del", 1L).otherwise(0L)).as("del"),
        sum(when($"_tag" === "stale", 1L).otherwise(0L)).as("stale"))
      .drop("_tag")

    // adaptive hot-bucket salting: if one bucket holds a disproportionate
    // share of this epoch's keys, split its write across multiple tasks.
    val bucketWeights = perGroup.map(_.getAs[Long]("nKeys")).toSeq
    val saltPerBucket =
      if (bucketWeights.size <= 1) 1
      else {
        val mx = bucketWeights.max
        val avg = bucketWeights.sum / bucketWeights.size
        if (mx > 4 * avg) math.min(8, (mx / math.max(1L, avg)).toInt) else 1
      }
    // merged output is already distributed by bucket (the aligned join), so
    // the write adds NO shuffle: it coalesces whole buckets into core-sized
    // tasks — unless hot-bucket salting kicked in, which trades one extra
    // exchange for write parallelism on the skewed bucket.
    if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
      System.err.println(merged.queryExecution.executedPlan.toString.take(8000))
    val newFiles = timed("merge+write")(
      table.writeEpochFiles(merged, epochId, schemaIdNow, saltPerBucket,
        alignedByBucket = true, nBuckets = nBuckets))

    val metrics = org.apache.spark.sql.GraftSqlBridge
      .awaitObservation(spark, obs, "merge-write")
    val applied = metrics("up").asInstanceOf[Long]
    val deletes = metrics("del").asInstanceOf[Long]
    val stale = metrics("stale").asInstanceOf[Long]

    // --- 5. manifest: carry-forward files + interval-merged offsets ------
    val stats = EpochStats(
      rowsExtracted = freshCount + quarantined,
      rowsQuarantined = quarantined,
      dedupDrops = dedupDrops,
      rowsApplied = applied,
      deletesApplied = deletes,
      staleDrops = stale)

    // completeness watermark: monotone advance to the contiguous origin
    // prefix — valid to publish only because the task-policy gate below
    // fail-stops the commit when this epoch's counters do NOT reconcile
    // (the reference's audit-count condition).
    val offsetsNow = mergedOffsets
    val manifest = EpochManifest(
      version = parentVersion + 1,
      epochId = epochId,
      schemaId = schemaIdNow,
      files = (keptFiles ++ newFiles).sortBy(f => (f.bucket, f.path)),
      offsets = offsetsNow,
      stats = stats,
      parentVersion = parentVersion,
      completeUntilSeq = math.max(
        parent.map(_.completeUntilSeq).getOrElse(Long.MinValue),
        Intervals.contiguousOriginPrefix(offsetsNow)),
      numBuckets = nBuckets,
      // purge mark is table history, not epoch output — carry it (a reset
      // would hide a purge from a change-feed window spanning this commit)
      purgedBelowSeq = parent.map(_.purgedBelowSeq).getOrElse(Long.MinValue))

    // --- 6. task-level policy gate: abort (no commit) on failure ---------
    graft.pipeline.TaskPolicies.enforce(taskPolicies, stats)

    val committed = timed("commit")(commitWithRebase(table, manifest, parent,
      affectedBuckets, claimsFor, nLogPartitions))
    emitCommitEvent(table, committed, stats, skipped = false)
    EpochOutcome(committed, skipped = false, stats)
    } finally { winners.unpersist(); () }

    } finally {
      prevConfs.foreach {
        case (s, k, Some(v)) => s.conf.set(k, v)
        case (s, k, None) => s.conf.unset(k)
      }
    }
  }

  /** Append per-partition lineage rows for a committed epoch. */
  def writeLineage(spark: SparkSession, stateDir: String, epochId: Long,
                   prev: Map[Int, Long], cur: Seq[OffsetRange],
                   stats: EpochStats): Unit = {
    import spark.implicits._
    val highs = partitionHighs(cur)
    val globalHigh = highs.values.foldLeft(Long.MinValue)(math.max)
    val rows = highs.toSeq.sortBy(_._1).map { case (p, hi) =>
      LineageRow(epochId, p, prev.getOrElse(p, -1L), hi,
        stats.rowsApplied, stats.dedupDrops,
        watermarkLag = globalHigh - hi)
    }
    rows.toDS().coalesce(1).write.mode("overwrite")
      .parquet(s"$stateDir/lineage/epoch=$epochId")
  }
}
