package graftbench

import graft.driver.{MirrorJob, ReplayJob}
import graft.log.{ChangeLogGen, LogSpec}
import graft.merge.MergeEngine
import graft.model.{ChangeEvent, EpochManifest, EpochStats}
import graft.table.IceTable
import org.apache.spark.sql.{Dataset, Row}

import scala.collection.mutable.ArrayBuffer

/** What one workload measured. `endToEnd` and `perLayer` are keyed by the
  * names in [[MetricNames]]; `report` holds further figures printed for
  * reading only (value, unit). */
final case class Result(setupS: Double, timedS: Double,
    endToEnd: Map[String, Double], perLayer: Map[String, Double],
    report: Seq[(String, (Double, String))])

/** Files a commit added relative to its parent manifest. */
final case class ManifestDiff(filesAdded: Int, rowsAdded: Long,
    bytesAdded: Long, parentFiles: Int, carried: Int)

/** One applyEpoch call (or one MirrorJob.sync, `events` = change rows) as
  * measured. */
final case class EpochRec(events: Long, secs: Double, diff: ManifestDiff,
    metaBytes: Long, span: Option[Span])

/** One consumed change feed: rows, seconds, files the manifest diff says it
  * must read. */
final case class FeedRec(rows: Long, secs: Double, filesRead: Int,
    span: Option[Span])

/** One point lookup: key, the table version it read, the row hash it
  * returned (None = no row), its latency, and the candidate files the
  * manifest admits for the key (traced lookups only). */
final case class LookupRec(repo: String, path: String, version: Long,
    rows: Int, hash: Option[Long], ms: Double, candidates: Int,
    span: Option[Span])

/** Everything a workload's timed loop records. */
final class Records {
  val epochs = ArrayBuffer.empty[EpochRec]
  val feeds = ArrayBuffer.empty[FeedRec]
  val syncs = ArrayBuffer.empty[EpochRec]
  val looks = ArrayBuffer.empty[LookupRec]
  val logs = ArrayBuffer.empty[(Long, Span)]
}

object Workloads {

  // ---- shared pieces -----------------------------------------------------

  private def slice(ctx: Ctx, spec: LogSpec, from: Long,
                    until: Long): Dataset[ChangeEvent] = {
    import ctx.spark.implicits._
    ChangeLogGen.generateExprSlice(ctx.spark, spec, from, until).as[ChangeEvent]
  }

  private def timed[T](clock: Option[Clock])(f: => T): (T, Double) =
    clock match {
      case Some(c) => c.time(f)
      case None =>
        val t0 = System.nanoTime(); val r = f
        (r, (System.nanoTime() - t0) / 1e9)
    }

  def manifestDiff(parent: Option[EpochManifest],
                   after: EpochManifest): ManifestDiff = {
    val before = parent.map(_.files.map(_.path).toSet).getOrElse(Set.empty)
    val added = after.files.filterNot(f => before(f.path))
    ManifestDiff(added.size, added.map(_.rows).sum, added.map(_.bytes).sum,
      before.size, after.files.count(f => before(f.path)))
  }

  /** files `changesBetween` must read: those listed in only one manifest */
  private def filesDiffering(a: EpochManifest, b: EpochManifest): Int = {
    val pa = a.files.map(_.path).toSet
    val pb = b.files.map(_.path).toSet
    (pa -- pb).size + (pb -- pa).size
  }

  /** bytes of table metadata (snapshot json + file-list segments) */
  def metaBytes(tableDir: String): Long = {
    val root = new java.io.File(tableDir, "meta")
    if (!root.exists) 0L
    else org.apache.commons.io.FileUtils.sizeOfDirectory(root)
  }

  /** counters of an epoch must reconcile, show no quarantine, and count
    * exactly the new events as extracted */
  private def checkStats(ctx: Ctx, st: EpochStats, newEvents: Long): Unit = {
    ctx.checks.check("epoch.extracted_equals_new_events",
      st.rowsExtracted == newEvents,
      s"extracted ${st.rowsExtracted} != $newEvents")
    ctx.checks.check("epoch.counters_reconcile",
      st.rowsExtracted == st.rowsQuarantined + st.rowsApplied +
        st.deletesApplied + st.dedupDrops + st.staleDrops && st.rowsQuarantined == 0,
      st.toString)
  }

  /** `n` lookup keys: half sampled from the log's first `hiSeq` events
    * (live or deleted), half outside the key space (never written) */
  def lookupKeys(spec: LogSpec, rng: scala.util.Random, n: Int,
                 hiSeq: Long): Seq[(String, String)] = {
    val cdf = ChangeLogGen.zipfCdf(spec.nRepos, spec.zipfExponent)
    val keySpec = spec.copy(contentWords = 0)
    (0 until n).map { i =>
      if (i % 2 == 0) {
        val ev = ChangeLogGen.eventAt(keySpec, cdf, (rng.nextLong() >>> 1) % hiSeq)
        (ev.repo, ev.path)
      } else {
        val r = rng.nextInt(spec.nRepos)
        val p = spec.nPathsPerRepo + rng.nextInt(1000)
        (f"org${r % 10}%d/repo-$r%04d", f"src/dir${p % 8}%d/File$p%04d.scala")
      }
    }
  }

  private def rowHash(r: Row): Long =
    Digest.hash(Digest.RowCols.map(r.getAs[String]): _*)

  /** point lookups through `IceTable.lookup`, each timed on its own */
  private def lookups(ctx: Ctx, table: IceTable, keys: Seq[(String, String)],
                      traced: Boolean, out: ArrayBuffer[LookupRec]): Unit = {
    val version = table.currentVersion()
    val m = if (traced) table.currentManifest() else None
    keys.foreach { case (repo, path) =>
      ctx.checks.callsAttempted += 1
      val ((rows, span), secs) = timed(None)(
        ctx.call("table.lookup", traced)(
          table.lookup(ctx.spark, repo, path).collect()))
      val cands = m.map(mm => table.lookupFiles(ctx.spark, mm, repo, path).size)
        .getOrElse(0)
      out += LookupRec(repo, path, version, rows.length,
        rows.headOption.map(rowHash), secs * 1000.0, cands, span)
    }
  }

  /** each lookup equals a snapshot read of the version it saw, for its key */
  private def checkLookups(ctx: Ctx, table: IceTable,
                           recs: Seq[LookupRec]): Unit =
    recs.groupBy(_.version).foreach { case (v, rs) =>
      import ctx.spark.implicits._
      val keys = rs.map(r => (r.repo, r.path)).distinct.toDF("repo", "path")
      val snap = table.readAt(ctx.spark, v)
        .join(org.apache.spark.sql.functions.broadcast(keys), Seq("repo", "path"))
        .select(Digest.RowCols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(r => (r.getString(0), r.getString(1)) -> rowHash(r)).toMap
      rs.foreach { r =>
        val want = snap.get((r.repo, r.path))
        ctx.checks.check("lookup_equals_snapshot_read",
          r.rows <= 1 && r.hash == want,
          s"${r.repo}/${r.path}@$v: lookup ${r.hash} (${r.rows} rows), snapshot $want")
      }
    }

  /** the change feed between two versions, consumed in full: every row's
    * image is hashed into a digest (one Spark job) */
  private def consumeFeed(ctx: Ctx, clock: Option[Clock], traced: Boolean,
      table: IceTable, from: EpochManifest, to: EpochManifest,
      out: ArrayBuffer[FeedRec]): (Digest, Double) = {
    ctx.checks.callsAttempted += 1
    val ((d, span), secs) = timed(clock)(
      ctx.call("feed.version", traced)(
        Digest.of(table.changesBetween(ctx.spark, from.version, to.version),
          Digest.FeedCols)))
    if (clock.isDefined) out += FeedRec(d.rows, secs, filesDiffering(from, to), span)
    (d, secs)
  }

  /** log layer (traced epochs only): generate the slice in full, alone */
  private def traceLog(ctx: Ctx, spec: LogSpec, from: Long, until: Long,
                       out: ArrayBuffer[(Long, Span)]): Unit =
    out ++= ctx.call("log.generate", traced = true)(
      ChangeLogGen.generateExprSlice(ctx.spark, spec, from, until)
        .write.format("noop").mode("overwrite").save()
    )._2.map(s => (until - from, s))

  // ---- metric assembly ---------------------------------------------------

  private def endToEnd(r: Records): Map[String, Double] = {
    val events = r.epochs.map(_.events).sum.toDouble
    Map(
      "events_per_sec" -> Stats.ratio(events, r.epochs.map(_.secs).sum),
      "epoch_s_p50" -> Stats.median(r.epochs.map(_.secs).toSeq),
      "epoch_s_p90" -> Stats.quantile(r.epochs.map(_.secs).toSeq, 0.9),
      "feed_rows_per_sec" -> Stats.ratio(r.feeds.map(_.rows).sum.toDouble,
        r.feeds.map(_.secs).sum),
      "lookup_ms_p50" -> Stats.median(r.looks.map(_.ms).toSeq),
      "bytes_written_per_event" ->
        Stats.ratio(r.epochs.map(_.diff.bytesAdded).sum.toDouble, events))
  }

  /** per-layer metrics over the traced calls */
  private def perLayer(ctx: Ctx, r: Records): Map[String, Double] = {
    val t = r.epochs.filter(_.span.isDefined).toSeq
    val sp = t.flatMap(_.span)
    val events = t.map(_.events).sum.toDouble
    def mean(ss: Seq[Span], k: String) = Stats.mean(ss.map(_(k)))
    def perEvent(k: String) = Stats.ratio(sp.map(_(k)).sum, events)
    val lk = r.looks.filter(_.span.isDefined).toSeq
    val fd = r.feeds.filter(_.span.isDefined).toSeq
    val fs = fd.flatMap(_.span)
    val sy = r.syncs.filter(_.span.isDefined).toSeq
    val ms = sy.flatMap(_.span)
    val untraced = r.epochs.filter(_.span.isEmpty).map(_.secs).toSeq
    Map(
      "log.rows_per_sec" -> Stats.ratio(r.logs.map(_._1).sum.toDouble,
        r.logs.map(_._2.seconds).sum),
      "merge.epoch_s" -> Stats.mean(sp.map(_.seconds)),
      "merge.driver_self_s" -> mean(sp, "driver_self_s"),
      "merge.codegen_compiles" -> mean(sp, "codegen_compiles"),
      "merge.input_records_per_event" -> perEvent("input_records"),
      "merge.shuffle_write_bytes_per_event" -> perEvent("shuffle_write_bytes"),
      "merge.task_s" -> mean(sp, "task_s"),
      "merge.core_util" -> Stats.ratio(sp.map(_("task_s")).sum,
        sp.map(_.seconds).sum * ctx.threads),
      "merge.jobs" -> mean(sp, "jobs"),
      "merge.stages" -> mean(sp, "stages"),
      "merge.spill_bytes" -> mean(sp, "spill_bytes"),
      "merge.gc_s" -> mean(sp, "gc_s"),
      "table.rows_rewritten_per_event" ->
        Stats.ratio(t.map(_.diff.rowsAdded).sum.toDouble, events),
      "table.files_added_per_epoch" -> Stats.mean(t.map(_.diff.filesAdded.toDouble)),
      "table.files_skipped_share" -> Stats.ratio(t.map(_.diff.carried).sum.toDouble,
        t.map(_.diff.parentFiles).sum.toDouble),
      "table.manifest_bytes" -> Stats.mean(t.map(_.metaBytes.toDouble)),
      "table.fs_write_ops_per_epoch" -> mean(sp, "fs_write_ops"),
      "table.fs_read_ops_per_epoch" -> mean(sp, "fs_read_ops"),
      "table.lookup_candidate_files" -> Stats.mean(lk.map(_.candidates.toDouble)),
      "table.lookup_bytes_read" -> mean(lk.flatMap(_.span), "fs_bytes_read"),
      "feed.version_s" -> Stats.mean(fs.map(_.seconds)),
      "feed.driver_self_s" -> mean(fs, "driver_self_s"),
      "feed.shuffle_bytes_per_row" -> Stats.ratio(
        fs.map(_("shuffle_write_bytes")).sum, fd.map(_.rows).sum.toDouble),
      "feed.files_read_per_version" -> Stats.mean(fd.map(_.filesRead.toDouble)),
      "mirror.task_s" -> mean(ms, "task_s"),
      "mirror.driver_self_s" -> mean(ms, "driver_self_s"),
      "mirror.rows_rewritten_per_change" -> Stats.ratio(
        sy.map(_.diff.rowsAdded).sum.toDouble, sy.map(_.events).sum.toDouble),
      // mean traced epoch time over mean untraced epoch time, minus one; the
      // loops interleave the two so that both see the same warm-up
      "trace.overhead_share" ->
        (Stats.mean(t.map(_.secs)) / Stats.mean(untraced) - 1.0))
  }

  private def report(e2e: Map[String, Double],
                     r: Records): Seq[(String, (Double, String))] = {
    val syncS = r.syncs.map(_.secs).toSeq
    Seq(
      "events_per_sec" -> (e2e("events_per_sec"), "events/s"),
      "epoch_s_p50" -> (e2e("epoch_s_p50"), "s"),
      "epoch_s_p90" -> (e2e("epoch_s_p90"), "s"),
      "feed_rows_per_sec" -> (e2e("feed_rows_per_sec"), "rows/s"),
      "lookup_ms_p50" -> (e2e("lookup_ms_p50"), "ms"),
      "lookup_ms_p95" -> (Stats.quantile(r.looks.map(_.ms).toSeq, 0.95), "ms"),
      "bytes_written_per_event" -> (e2e("bytes_written_per_event"), "B/event")) ++
      (if (syncS.isEmpty) Nil else Seq(
        "mirror_sync_s_p50" -> (Stats.median(syncS), "s"),
        "mirror_sync_s_p90" -> (Stats.quantile(syncS, 0.9), "s"))) ++ Seq(
      "samples.epochs" -> (r.epochs.size.toDouble, "count"),
      "samples.feeds" -> (r.feeds.size.toDouble, "count"),
      "samples.syncs" -> (r.syncs.size.toDouble, "count"),
      "samples.lookups" -> (r.looks.size.toDouble, "count"))
  }

  private def result(ctx: Ctx, setupS: Double, clock: Clock,
                     r: Records): Result = {
    val e2e = endToEnd(r)
    Result(setupS, clock.usedS, e2e, perLayer(ctx, r), report(e2e, r))
  }

  // ---- bulk_replay -------------------------------------------------------

  /** Each rep replays `bulkEpochs` big epochs into a fresh table through
    * ReplayJob.run, then consumes the change feed of its last epoch and
    * runs point lookups on the result. The timed loop repeats reps until
    * the budget is spent. */
  def bulkReplay(ctx: Ctx): Result = {
    val s = ctx.sizes
    val spec = ctx.spec(s.bulkRepos, s.bulkPaths, 0xB01L)
    val keys = lookupKeys(spec, new scala.util.Random(ctx.args.seed),
      s.bulkLookups, s.bulkEpochEvents * s.bulkEpochs)
    val rec = new Records
    // per timed rep: (feed digest of the last epoch, final table digest)
    val digests = ArrayBuffer.empty[(Digest, Digest)]

    val perEpoch = s.bulkEpochEvents

    // `n`: timed rep index, -1 for the warm-up. In a traced run every
    // other epoch is traced, alternating across reps, so traced and
    // untraced epochs see the same mix of empty-table and merge epochs.
    def rep(clock: Option[Clock], n: Int): Unit = {
      def traced(e: Int) = ctx.args.trace && n >= 0 && (n + e) % 2 == 1
      val dir = ctx.freshDir("bulk")
      val table = IceTable.create(dir, s.buckets)
      try {
        var parent = Option.empty[EpochManifest]
        var feed = Digest.empty
        (0 until s.bulkEpochs).foreach { e =>
          val lo = e * perEpoch - 1
          val hi = (e + 1) * perEpoch - 1
          if (traced(e)) traceLog(ctx, spec, lo + 1, hi + 1, rec.logs)
          val meta0 = metaBytes(dir)
          val events = slice(ctx, spec, lo + 1, hi + 1)
          ctx.checks.callsAttempted += 1
          val ((reports, span), secs) = timed(clock)(
            ctx.call("merge.epoch", traced(e))(
              ReplayJob.run(ctx.spark, table, _ => events,
                Seq((e.toLong, lo, hi)))))
          ctx.phase(f"bulk epoch $e: $secs%.2f s")
          val after = table.currentManifest().get
          ctx.checks.check("epoch_committed",
            reports.size == 1 && !reports.head.skipped &&
              after.version == parent.map(_.version).getOrElse(-1L) + 1,
            s"epoch $e: $reports")
          reports.foreach(r => checkStats(ctx, r.stats, perEpoch))
          if (clock.isDefined)
            rec.epochs += EpochRec(perEpoch, secs, manifestDiff(parent, after),
              metaBytes(dir) - meta0, span)
          // the downstream consumer reads the last epoch's change feed
          if (e == s.bulkEpochs - 1 && parent.isDefined)
            feed = consumeFeed(ctx, clock, traced(e), table, parent.get, after,
              rec.feeds)._1
          parent = Some(after)
        }
        // the warm-up runs four lookups (unchecked; two keys present, two
        // absent), so that timed lookups do not pay the lookup path's
        // first compiles
        val looks = ArrayBuffer.empty[LookupRec]
        lookups(ctx, table, if (clock.isDefined) keys else keys.take(4),
          traced(s.bulkEpochs - 1), looks)
        if (clock.isDefined) {
          checkLookups(ctx, table, looks.toSeq)
          rec.looks ++= looks
          digests += ((feed, Digest.of(table.read(ctx.spark))))
        }
        ctx.phase("bulk lookups + checks")
      } finally ctx.deleteDir(dir)
    }

    // warm-up: one untimed rep of the same shape
    val t0 = System.nanoTime()
    rep(None, -1)
    val setupS = (System.nanoTime() - t0) / 1e9

    val clock = new Clock(ctx.args.seconds)
    var n = 0
    while (!clock.expired || (ctx.args.trace && n < 2)) {
      rep(Some(clock), n)
      n += 1
    }

    // every rep replays the same log: its last feed and its final table
    // equal the LWW fold's
    val oracle = new Oracle(spec, ctx.threads, ctx.checks)
    val wantFeed = (0 until s.bulkEpochs).map(e =>
      oracle.applyRange(e * perEpoch, (e + 1) * perEpoch)).last
    ctx.phase("bulk oracle fold")
    digests.foreach { case (feed, table) =>
      ctx.checks.check("feed_equals_snapshot_diff", feed == wantFeed,
        s"feed $feed, expected $wantFeed")
      ctx.checks.check("final_table_equals_lww_fold", table == oracle.digest,
        s"table $table, expected ${oracle.digest}")
    }
    result(ctx, setupS, clock, rec)
  }

  // ---- trickle_merge -----------------------------------------------------

  /** Small epochs through MergeEngine.applyEpoch into a pre-loaded table.
    * Every slice re-delivers the tail of the previous one, which the
    * offset fence must drop. Each commit is then read downstream: a feed
    * consumer reads `changesBetween` for the new version, a mirror table
    * follows through `MirrorJob.sync`, and point lookups hit the table. */
  def trickleMerge(ctx: Ctx): Result = {
    val s = ctx.sizes
    val spec = ctx.spec(s.trickleRepos, s.tricklePaths, 0x7C1L)
    val upDir = ctx.freshDir("upstream")
    val mirDir = ctx.freshDir("mirror")
    val rec = new Records
    val rng = new scala.util.Random(ctx.args.seed)
    // per step, in commit order: (seq range, feed digest, mirror digest)
    val steps = ArrayBuffer.empty[((Long, Long), Digest, Digest)]
    val allLooks = ArrayBuffer.empty[LookupRec] // warm-up's too, for checks
    try {
      val t0 = System.nanoTime()
      val up = IceTable.create(upDir, s.buckets)
      val pre = s.tricklePreload
      val preEvents = slice(ctx, spec, 0, pre)
      ctx.checks.callsAttempted += 1
      ReplayJob.run(ctx.spark, up, _ => preEvents, Seq((0L, -1L, pre - 1)))
      ctx.phase("trickle preload")
      var parent = up.currentManifest().get
      val mirror = IceTable.create(mirDir, s.buckets)
      ctx.checks.callsAttempted += 1
      MirrorJob.sync(ctx.spark, up, mirror, toVersion = Some(parent.version))
      val mirrorAtPreload = Digest.of(mirror.read(ctx.spark))
      ctx.phase("trickle mirror full sync")
      var top = pre - 1 // every seq <= top is committed
      var epochId = 1L

      def step(clock: Option[Clock], traced: Boolean): Unit = {
        val lo = top
        val hi = top + s.trickleEpochEvents
        val from = math.max(0L, lo + 1 - s.trickleRedeliver)
        if (traced) traceLog(ctx, spec, from, hi + 1, rec.logs)
        val meta0 = metaBytes(upDir)
        val events = slice(ctx, spec, from, hi + 1)
        ctx.checks.callsAttempted += 1
        val ((out, span), eSecs) = timed(clock)(
          ctx.call("merge.epoch", traced)(
            MergeEngine.applyEpoch(ctx.spark, up, events, epochId,
              claimedRange = Some((lo, hi)))))
        ctx.checks.check("epoch_committed", !out.skipped &&
          out.manifest.version == parent.version + 1,
          s"epoch $epochId skipped=${out.skipped}")
        // the re-delivered tail is fenced: only the new seqs are extracted
        checkStats(ctx, out.stats, hi - lo)
        if (clock.isDefined)
          rec.epochs += EpochRec(hi - lo, eSecs,
            manifestDiff(Some(parent), out.manifest), metaBytes(upDir) - meta0, span)

        val (feed, fSecs) =
          consumeFeed(ctx, clock, traced, up, parent, out.manifest, rec.feeds)

        val mParent = mirror.currentManifest()
        val mMeta0 = metaBytes(mirDir)
        ctx.checks.callsAttempted += 1
        val ((mo, mSpan), mSecs) = timed(clock)(
          ctx.call("mirror.sync", traced)(
            MirrorJob.sync(ctx.spark, up, mirror,
              toVersion = Some(out.manifest.version))))
        ctx.checks.check("mirror_synced",
          mo.toVersion == out.manifest.version && !mo.fullSync, mo.toString)
        if (clock.isDefined)
          rec.syncs += EpochRec(feed.rows, mSecs,
            manifestDiff(mParent, mirror.currentManifest().get),
            metaBytes(mirDir) - mMeta0, mSpan)
        steps += (((lo, hi), feed, Digest.of(mirror.read(ctx.spark))))

        val looks = ArrayBuffer.empty[LookupRec]
        lookups(ctx, up, lookupKeys(spec, rng, s.trickleLookups, hi + 1),
          traced, looks)
        allLooks ++= looks
        if (clock.isDefined) rec.looks ++= looks
        ctx.phase(f"trickle step $epochId: epoch $eSecs%.2f s, feed $fSecs%.2f s, sync $mSecs%.2f s")
        parent = out.manifest
        top = hi
        epochId += 1
      }

      (0 until s.trickleWarmSteps).foreach(_ => step(None, traced = false))
      val setupS = (System.nanoTime() - t0) / 1e9

      val clock = new Clock(ctx.args.seconds)
      var n = 0
      // a traced run traces steps in the order untraced, traced, traced,
      // untraced, ... so that both kinds see the same warm-up
      while ((!clock.expired && n < s.trickleMaxSteps) ||
             (ctx.args.trace && n < 4)) {
        step(Some(clock), traced = ctx.args.trace && (n % 4 == 1 || n % 4 == 2))
        n += 1
      }

      // a whole committed slice delivered again changes nothing
      val lastLo = top - s.trickleEpochEvents
      ctx.checks.callsAttempted += 1
      val again = MergeEngine.applyEpoch(ctx.spark, up,
        slice(ctx, spec, lastLo + 1, top + 1), epochId,
        claimedRange = Some((lastLo, top)))
      ctx.checks.check("redelivered_slice_changes_nothing",
        again.skipped && up.currentVersion() == parent.version,
        s"skipped=${again.skipped} version ${up.currentVersion()} vs ${parent.version}")
      checkLookups(ctx, up, allLooks.toSeq)

      // replay the oracle commit by commit: each feed equals the oracle's
      // state diff, the mirror equals the oracle state after every sync
      val oracle = new Oracle(spec, ctx.threads, ctx.checks)
      oracle.applyRange(0, pre)
      ctx.checks.check("mirror_equals_upstream", mirrorAtPreload == oracle.digest,
        s"mirror after full sync $mirrorAtPreload, expected ${oracle.digest}")
      steps.foreach { case ((lo, hi), feed, mirrorDigest) =>
        val want = oracle.applyRange(lo + 1, hi + 1)
        ctx.checks.check("feed_equals_snapshot_diff", feed == want,
          s"feed ($lo, $hi]: $feed, expected $want")
        ctx.checks.check("mirror_equals_upstream", mirrorDigest == oracle.digest,
          s"mirror at ($lo, $hi]: $mirrorDigest, expected ${oracle.digest}")
      }
      val got = Digest.of(up.read(ctx.spark))
      ctx.checks.check("final_table_equals_lww_fold", got == oracle.digest,
        s"table $got, expected ${oracle.digest}")
      ctx.phase("trickle checks")
      result(ctx, setupS, clock, rec)
    } finally {
      ctx.deleteDir(upDir)
      ctx.deleteDir(mirDir)
    }
  }
}
