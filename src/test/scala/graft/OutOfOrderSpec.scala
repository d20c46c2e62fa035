package graft

import graft.driver.ReplayJob
import graft.log.{ChangeLogGen, LogSpec, OracleFold}
import graft.merge.{Intervals, MergeEngine}
import graft.model.ChangeEvent
import graft.table.IceTable

/** Order-independence: micro-batches may arrive in ANY order (the file
  * stream gives no global order guarantee). The offset-interval fence plus
  * the seq-aware LWW merge with tombstones must converge to the oracle
  * state regardless of delivery order. */
class OutOfOrderSpec extends SparkSpec {
  import spark.implicits._

  val spec = LogSpec(seed = 23L, nEvents = 6000, nRepos = 8,
    nPathsPerRepo = 25, pDelete = 0.1)

  private def shaState(t: IceTable): Map[(String, String), String] =
    t.read(spark).select("repo", "path", "contentSha").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap

  private val oracle = OracleFold.fold(ChangeLogGen.generateLocal(spec))
    .map { case (k, v) => k -> v.contentSha }

  private def runOrder(order: Seq[Int]): IceTable = {
    val t = IceTable.create(tmpDir("ooo"), numBuckets = 4)
    val sp = spec
    val cdf = ChangeLogGen.zipfCdf(sp.nRepos, sp.zipfExponent)
    val per = sp.nEvents / 4
    val ranges = (0 until 4).map(e =>
      (e.toLong, e * per - 1, if (e == 3) sp.nEvents - 1 else (e + 1) * per - 1))
    order.foreach { e =>
      val (_, lo, hi) = ranges(e)
      MergeEngine.applyEpoch(spark, t,
        spark.range(lo + 1, hi + 1).map(s => ChangeLogGen.eventAt(sp, cdf, s)),
        epochId = e, nLogPartitions = 4)
    }
    t
  }

  test("reversed and shuffled epoch orders converge to the oracle state") {
    assert(shaState(runOrder(Seq(3, 2, 1, 0))) == oracle)
    assert(shaState(runOrder(Seq(2, 0, 3, 1))) == oracle)
  }

  test("replaying every epoch after out-of-order ingest is fully fenced") {
    val t = runOrder(Seq(1, 3, 0, 2))
    val v = t.currentVersion()
    val sp = spec
    val cdf = ChangeLogGen.zipfCdf(sp.nRepos, sp.zipfExponent)
    val per = sp.nEvents / 4
    (0 until 4).foreach { e =>
      val lo = e * per - 1
      val hi = if (e == 3) sp.nEvents - 1 else (e + 1) * per - 1
      val out = MergeEngine.applyEpoch(spark, t,
        spark.range(lo + 1, hi + 1).map(s => ChangeLogGen.eventAt(sp, cdf, s)),
        epochId = 10 + e, nLogPartitions = 4)
      assert(out.skipped, s"epoch $e replay must be fenced")
    }
    assert(t.currentVersion() == v)
    assert(shaState(t) == oracle)
  }

  test("late stale update cannot resurrect a deleted key (tombstone)") {
    val t = IceTable.create(tmpDir("tomb"), numBuckets = 2)
    def ev(op: String, seq: Long, c: String) =
      ChangeEvent(op, seq, "r", "p", f"$seq%040d", "scala", c)
    // delete at seq 10 arrives first (epoch A)
    MergeEngine.applyEpoch(spark, t,
      Seq(ev("i", 9, "v9"), ev("d", 10, "")).toDS(), 0, nLogPartitions = 2)
    assert(shaState(t).isEmpty)
    // stale update seq 5 arrives later (out-of-order epoch B)
    val out = MergeEngine.applyEpoch(spark, t,
      Seq(ev("u", 5, "v5")).toDS(), 1, nLogPartitions = 2)
    assert(out.stats.staleDrops == 1)
    assert(shaState(t).isEmpty, "tombstone must keep the key dead")
    // a genuinely newer update resurrects it
    MergeEngine.applyEpoch(spark, t,
      Seq(ev("u", 20, "v20")).toDS(), 2, nLogPartitions = 2)
    assert(shaState(t) == Map(("r", "p") -> OracleFold.sha256Hex("v20")))
  }

  test("exact intra-batch duplicates (at-least-once) merge to one row") {
    // the same (key, seq) event TWICE in one micro-batch: the cross-epoch
    // fence cannot see it; the winner join used to emit two rows and poison
    // the epoch (RowCountReconciliation fail-stop on every retry).
    val t = IceTable.create(tmpDir("dup"), numBuckets = 2)
    def ev(seq: Long, p: String, c: String) =
      ChangeEvent("u", seq, "r", p, f"$seq%040d", "scala", c)
    val batch = Seq(ev(1, "p1", "v1"), ev(1, "p1", "v1"), // exact dup
      ev(2, "p2", "v2"), ev(3, "p1", "v3"), ev(3, "p1", "v3")) // dup winner
    val out = MergeEngine.applyEpoch(spark, t, batch.toDS(), 0,
      nLogPartitions = 2)
    assert(!out.skipped, "epoch with intra-batch dups must commit")
    assert(out.stats.rowsApplied == 2)
    assert(shaState(t) == Map(("r", "p1") -> OracleFold.sha256Hex("v3"),
      ("r", "p2") -> OracleFold.sha256Hex("v2")))
  }

  test("property: random slicing + random order + duplication converge") {
    // adversarial delivery: the log is cut at RANDOM epoch boundaries, the
    // epochs are applied in a RANDOM order, and a random subset is applied
    // TWICE (at-least-once). Fence + LWW must converge to the oracle state
    // for every draw.
    val sp = LogSpec(seed = 91L, nEvents = 1200, nRepos = 5,
      nPathsPerRepo = 10, pDelete = 0.12)
    val want = OracleFold.fold(ChangeLogGen.generateLocal(sp))
      .map { case (k, v) => k -> v.contentSha }
    val cdf = ChangeLogGen.zipfCdf(sp.nRepos, sp.zipfExponent)
    (0 until 4).foreach { trial =>
      val rnd = new scala.util.Random(1000 + trial)
      // random boundaries: -1 < b1 < ... < top
      val cuts = (Seq(-1L, sp.nEvents - 1) ++
        Seq.fill(rnd.nextInt(5) + 2)(rnd.nextLong(sp.nEvents - 1)))
        .distinct.sorted
      val ranges = cuts.sliding(2).zipWithIndex.collect {
        case (Seq(lo, hi), i) if lo < hi => (i.toLong, lo, hi)
      }.toSeq
      val order = rnd.shuffle(ranges ++ ranges.filter(_ => rnd.nextBoolean()))
      val t = IceTable.create(tmpDir(s"prop$trial"), numBuckets = 2)
      order.zipWithIndex.foreach { case ((_, lo, hi), i) =>
        MergeEngine.applyEpoch(spark, t,
          spark.range(lo + 1, hi + 1).map(s => ChangeLogGen.eventAt(sp, cdf, s)),
          epochId = i.toLong, nLogPartitions = 2,
          claimedRange = Some((lo, hi)))
      }
      assert(shaState2(t, sp) == want, s"trial $trial diverged (order=$order)")
      assert(t.currentManifest().get.completeUntilSeq == sp.nEvents - 1,
        s"trial $trial: completeness must reach the top once all gaps fill")
    }
  }

  private def shaState2(t: IceTable, sp: LogSpec): Map[(String, String), String] =
    t.read(spark).select("repo", "path", "contentSha").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap

  test("shuffle-fallback dedup (winner set too large to broadcast) converges") {
    // force the non-broadcast path: with maxBroadcastBytes=0 every epoch
    // takes the single-shuffle max_by(struct) aggregate. It must produce
    // the same table as the broadcast argmax path: out-of-order epochs,
    // intra-batch exact duplicates, tombstones — all identical to oracle.
    spark.conf.set("spark.graft.maxBroadcastBytes", "0")
    try {
      assert(shaState(runOrder(Seq(3, 1, 0, 2))) == oracle,
        "fallback dedup must converge to the oracle fold")
      // intra-batch exact dups collapse in the aggregate itself
      val t = IceTable.create(tmpDir("fbdup"), numBuckets = 2)
      def ev(seq: Long, p: String, c: String) =
        ChangeEvent("u", seq, "r", p, f"$seq%040d", "scala", c)
      val out = MergeEngine.applyEpoch(spark, t,
        Seq(ev(1, "p1", "v1"), ev(1, "p1", "v1"), ev(2, "p1", "v2")).toDS(),
        0, nLogPartitions = 2)
      assert(out.stats.rowsApplied == 1 && out.stats.dedupDrops == 2)
      assert(shaState(t) == Map(("r", "p1") -> OracleFold.sha256Hex("v2")))
    } finally spark.conf.unset("spark.graft.maxBroadcastBytes")
  }

  test("all three dedup paths pick the same winner among same-seq conflicts") {
    // at-least-once delivery can produce two rows with the SAME (key, seq)
    // but different payload (producer retry after a partial update): every
    // dedup path — broadcast argmax, shuffle fallback, and the tiny-epoch
    // payload-carrying aggregate (claimed span below
    // spark.graft.aqeMinClaimedEvents) — must apply one identical
    // deterministic tie-break (lexicographic max of (commit, op, lang,
    // content)), or the table would depend on which mode an epoch lands in.
    def ev(commit: Char, c: String) =
      ChangeEvent("u", 5, "r", "p", commit.toString * 40, "scala", c)
    def run(tag: String, forceFallback: Boolean,
            claimed: Option[(Long, Long)]): Map[(String, String), String] = {
      if (forceFallback) spark.conf.set("spark.graft.maxBroadcastBytes", "0")
      try {
        val t = IceTable.create(tmpDir(s"tie$tag"), numBuckets = 2)
        MergeEngine.applyEpoch(spark, t,
          Seq(ev('b', "vB"), ev('a', "vA")).toDS(), 0, nLogPartitions = 2,
          claimedRange = claimed)
        shaState(t)
      } finally if (forceFallback)
        spark.conf.unset("spark.graft.maxBroadcastBytes")
    }
    // no claim -> segment path -> envelope dedup (broadcast or fallback);
    // a small declared claim -> tiny epoch -> payload-carrying aggregate
    val viaBroadcast = run("bc", forceFallback = false, claimed = None)
    val viaFallback = run("fb", forceFallback = true, claimed = None)
    val viaPayload = run("pl", forceFallback = false, claimed = Some((4L, 5L)))
    assert(viaBroadcast == viaFallback, "paths must agree bit-for-bit")
    assert(viaBroadcast == viaPayload,
      "payload-carrying dedup must agree bit-for-bit with the envelope paths")
    assert(viaBroadcast == Map(("r", "p") -> OracleFold.sha256Hex("vB")),
      "max-commit row must win the tie deterministically")
  }

  test("tiny-epoch payload dedup converges and keeps the bucket layout") {
    // same out-of-order workload as the envelope-path tests, but run through
    // DECLARED epoch slices (claimedRange), which puts every epoch on the
    // tiny-epoch payload-carrying path: one pass over the input, no
    // broadcast, no rank. Must converge to the oracle fold AND keep the
    // one-file-per-bucket write layout (EnsureRequirements strips a bare
    // repartition under the merge join — the aligned layout guards it; a
    // blown layout shows up as ~partitions×buckets files). With more
    // buckets than cores, the write packs several whole buckets into each
    // task, and each bucket must still get exactly one file.
    val nBuckets = 16
    val t = IceTable.create(tmpDir("pl-ooo"), numBuckets = nBuckets)
    val cores = spark.sparkContext.defaultParallelism
    assert(nBuckets > cores, s"needs more buckets than the $cores cores")
    val sp = spec
    val cdf = ChangeLogGen.zipfCdf(sp.nRepos, sp.zipfExponent)
    val per = sp.nEvents / 4
    val ranges = (0 until 4).map(e =>
      (e.toLong, e * per - 1, if (e == 3) sp.nEvents - 1 else (e + 1) * per - 1))
    Seq(2, 0, 3, 1).foreach { e =>
      val (_, lo, hi) = ranges(e)
      val events =
        spark.range(lo + 1, hi + 1).map(s => ChangeLogGen.eventAt(sp, cdf, s))
      val touched = events
        .select(t.bucketCol($"repo", $"path").as("b")).distinct()
        .as[Int].collect().sorted.toSeq
      val (out, writeTasks) = resultStageTasks("parquet at IceTable.scala")(
        MergeEngine.applyEpoch(spark, t, events,
          epochId = e, nLogPartitions = 4, claimedRange = Some((lo, hi))))
      assert(!out.skipped)
      val epochFiles = out.manifest.files.filter(_.path.contains(s"/e$e-"))
      assert(epochFiles.map(_.bucket).sorted == touched,
        s"epoch $e must write exactly one file per touched bucket " +
          s"(${touched.size} buckets), got buckets " +
          epochFiles.map(_.bucket).sorted.mkString(","))
      assert(writeTasks.nonEmpty && writeTasks.forall(_ <= cores),
        s"epoch $e's write stage must pack its buckets into at most " +
          s"$cores tasks, ran $writeTasks")
    }
    assert(shaState(t) == oracle,
      "payload-carrying dedup must converge to the oracle fold")
  }

  test("claimRunOverflow=fail aborts a gap-dense epoch uncommitted") {
    // an exactly-once source (streaming checkpoint) never redelivers, so
    // truncated claims would freeze the horizons — the runner sets the
    // fail policy and the epoch must abort with NO commit.
    val t = IceTable.create(tmpDir("gapfail"), numBuckets = 2)
    def ev(seq: Long) = ChangeEvent("u", seq, "r", s"p${seq % 7}",
      f"$seq%040d", "scala", s"v$seq")
    spark.conf.set("spark.graft.maxClaimRuns", "8")
    spark.conf.set("spark.graft.claimRunOverflow", "fail")
    try {
      intercept[IllegalStateException] {
        MergeEngine.applyEpoch(spark, t,
          (0L until 200L by 2).map(ev).toDS(), 0, nLogPartitions = 2)
      }
      assert(t.currentVersion() == -1L, "no snapshot may commit on abort")
    } finally {
      spark.conf.unset("spark.graft.maxClaimRuns")
      spark.conf.unset("spark.graft.claimRunOverflow")
    }
  }

  test("gap-dense segment claims are capped; unclaimed seqs still ingest") {
    // adversarial unknown-provenance batch: ALTERNATING seqs → every seq is
    // its own contiguous run (100 runs here, millions in the wild). The
    // claim computation must stay bounded on the driver: with
    // spark.graft.maxClaimRuns=8 only the lowest 8 runs are claimed; the
    // rest of the batch is still APPLIED (capping claims drops no rows) and
    // the unclaimed seqs stay fence-free, so late/re-delivered events for
    // them are never lost.
    val t = IceTable.create(tmpDir("gapdense"), numBuckets = 2)
    def ev(seq: Long) = ChangeEvent("u", seq, "r", s"p${seq % 7}",
      f"$seq%040d", "scala", s"v$seq")
    spark.conf.set("spark.graft.maxClaimRuns", "8")
    try {
      val out1 = MergeEngine.applyEpoch(spark, t,
        (0L until 200L by 2).map(ev).toDS(), 0, nLogPartitions = 2)
      assert(!out1.skipped)
      assert(out1.stats.rowsApplied == 7, "all 100 evens must merge (7 keys)")
      val m = t.currentManifest().get
      m.offsets.groupBy(_.partitionId).values.foreach(rs =>
        assert(rs.size <= 8, s"claimed runs must be capped at 8: ${rs.size}"))
      // lowest 8 single-seq runs claimed: seqs 0,2,..,14; 16+ unclaimed
      val iv = MergeEngine.committedIntervals(Some(m))(0)
      assert(Intervals.covers(iv, 14L) && !Intervals.covers(iv, 16L))
      // the odds (all unclaimed) plus a re-delivery of every even: nothing
      // may be lost — final state is the full-log oracle
      val out2 = MergeEngine.applyEpoch(spark, t,
        (0L until 200L).map(ev).toDS(), 1, nLogPartitions = 2)
      assert(!out2.skipped)
      val want = (0L until 200L).groupBy(_ % 7).map { case (k, seqs) =>
        ("r", s"p$k") -> OracleFold.sha256Hex(s"v${seqs.max}")
      }
      assert(shaState(t) == want, "capped claims must not lose data")
    } finally spark.conf.unset("spark.graft.maxClaimRuns")
  }

  test("interval algebra: normalize merges touching ranges") {
    assert(Intervals.normalize(Seq((10L, 20L), (-1L, 10L))) == Seq((-1L, 20L)))
    assert(Intervals.normalize(Seq((5L, 8L), (0L, 3L))) == Seq((0L, 3L), (5L, 8L)))
    assert(Intervals.covers(Seq((0L, 3L), (5L, 8L)), 6L))
    assert(!Intervals.covers(Seq((0L, 3L), (5L, 8L)), 4L))
    assert(!Intervals.covers(Seq((0L, 3L)), 0L)) // open-low
    assert(Intervals.covers(Seq((0L, 3L)), 3L))  // closed-high
  }

  test("interval algebra: intersect (grown-universe entry fence)") {
    assert(Intervals.intersect(Seq((-1L, 10L)), Seq((-1L, 7L), (8L, 12L)))
      == Seq((-1L, 7L), (8L, 10L)))
    assert(Intervals.intersect(Seq((0L, 5L)), Seq((5L, 9L))) == Nil)
    assert(Intervals.intersect(Nil, Seq((0L, 5L))) == Nil)
  }

  test("interval algebra: subtract (mirror claim delta)") {
    // carve middle, edges, full cover, disjoint, and multi-b carve
    assert(Intervals.subtract(Seq((0L, 10L)), Seq((3L, 6L)))
      == Seq((0L, 3L), (6L, 10L)))
    assert(Intervals.subtract(Seq((0L, 10L)), Seq((0L, 4L))) == Seq((4L, 10L)))
    assert(Intervals.subtract(Seq((0L, 10L)), Seq((7L, 12L))) == Seq((0L, 7L)))
    assert(Intervals.subtract(Seq((2L, 8L)), Seq((0L, 10L))) == Nil)
    assert(Intervals.subtract(Seq((0L, 10L)), Seq((12L, 20L)))
      == Seq((0L, 10L)))
    assert(Intervals.subtract(Seq((0L, 10L), (20L, 30L)), Seq((5L, 25L)))
      == Seq((0L, 5L), (25L, 30L)))
    assert(Intervals.subtract(Nil, Seq((0L, 5L))) == Nil)
    assert(Intervals.subtract(Seq((0L, 5L)), Nil) == Seq((0L, 5L)))
    // un-normalized inputs normalize first; open-low/closed-high boundary:
    // subtracting (0,3] from (0,5] leaves exactly (3,5]
    assert(Intervals.subtract(Seq((3L, 5L), (0L, 3L)), Seq((0L, 3L)))
      == Seq((3L, 5L)))
    // delta then union with the base reconstructs the whole (convergence
    // invariant the mirror relies on)
    val a = Seq((0L, 7L), (9L, 15L), (20L, 21L))
    val b = Seq((2L, 5L), (9L, 15L))
    val d = Intervals.subtract(a, b)
    assert(Intervals.normalize(d ++ Intervals.intersect(a, b))
      == Intervals.normalize(a))
  }

  test("gap-dense fence: native expression is codegen'd and fences exactly") {
    import graft.functions.{IntervalIndex, IntervalInside}
    import org.apache.spark.sql.functions._
    // 600 committed intervals (> the 256 Column-tree threshold): each
    // (2i, 2i+1] covers only the odd seq 2i+1, i < 300
    val ivs: Map[Int, Seq[(Long, Long)]] = (0 until 2).map(p =>
      p -> (0 until 300).map(i => (2L * i, 2L * i + 1)).toSeq).toMap
    // index vs interval algebra on random probes (incl. foreign partitions)
    val idx = IntervalIndex.build(ivs)
    val rnd = new scala.util.Random(7)
    (0 until 2000).foreach { _ =>
      val p = rnd.between(-1, 4)
      val s = rnd.between(-50L, 700L)
      val want = ivs.get(p).exists(Intervals.covers(_, s))
      assert(idx.inside(p, s) == want, s"index mismatch at ($p, $s)")
    }
    // plan audit: the fence filter stays INSIDE whole-stage codegen (the r3
    // scalar-UDF fallback boxed every row on exactly the gap-dense epochs)
    val df = spark.range(0, 1000)
      .select(pmod(col("id"), lit(2)).cast("int").as("logPart"),
        col("id").as("seq"))
    val fenced = df.filter(!IntervalInside(col("logPart"), col("seq"), ivs))
    val plan = fenced.queryExecution.executedPlan.toString
    assert(plan.contains("graft_interval_inside"), plan)
    assert(plan.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("*(")),
      s"fence filter must be codegen'd:\n$plan")
    assert(!plan.toLowerCase.contains("scalaudf"), plan)
    val kept = fenced.collect().map(_.getLong(1)).toSet
    val want = (0L until 1000L).filter(s => s % 2 == 0 || s > 599L).toSet
    assert(kept == want, "fence must drop exactly the covered seqs")
  }

  test("gap-dense history: engine fence drops exactly the committed seqs") {
    import graft.model.{EpochManifest, EpochStats, OffsetRange}
    val t = IceTable.create(tmpDir("gapdense"), numBuckets = 2)
    val offs = for { p <- 0 until 2; i <- 0 until 200 }
      yield OffsetRange(p, 2L * i, 2L * i + 1)
    t.commit(EpochManifest(0, 0, 1, Nil, offs,
      EpochStats(0, 0, 0, 0, 0, 0), -1L))
    // seqs 1..20: odds are inside committed intervals (fenced), evens fresh
    val evs = (1 to 20).map(s => ChangeEvent("u", s.toLong, "r", s"p$s",
      f"$s%040d", "scala", s"v$s"))
    val out = MergeEngine.applyEpoch(spark, t, evs.toDS(), 1,
      nLogPartitions = 2)
    assert(out.stats.rowsApplied == 10,
      s"exactly the 10 even seqs must apply: ${out.stats}")
    val want = (2 to 20 by 2).map(s => ("r", s"p$s") ->
      OracleFold.sha256Hex(s"v$s")).toMap
    assert(shaState(t) == want)
  }
}
