package graft

import graft.log.{ChangeLogGen, LogSpec, OracleFold}
import graft.driver.ReplayJob
import graft.table.IceTable
import org.apache.spark.sql.functions._

/**
 * Golden end-to-end replay (SURVEY.md §5): replay a deterministic change log
 * in K epochs, assert the final IceTable state matches the in-memory oracle
 * fold by per-row sha256(content) — the north-star invariant. Plus
 * idempotence (replay twice ⇒ identical snapshot) and resume-from-crash.
 */
class ReplayEndToEndSpec extends SparkSpec {

  val spec = LogSpec(seed = 42L, nEvents = 10000, nRepos = 20,
    nPathsPerRepo = 50, pDelete = 0.08)

  private def tableState(t: IceTable): Map[(String, String), (String, String)] =
    t.read(spark).select("repo", "path", "contentSha", "commit")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getString(2), r.getString(3)))
      .toMap

  private def oracleState: Map[(String, String), (String, String)] =
    OracleFold.fold(ChangeLogGen.generateLocal(spec))
      .map { case (k, v) => k -> (v.contentSha, v.commit) }

  test("4-epoch replay matches the oracle fold per-row (sha256 + commit)") {
    val t = IceTable.create(tmpDir("icetable"), numBuckets = 8)
    val reports = ReplayJob.replayGenerated(spark, t, spec, nEpochs = 4,
      nLogPartitions = 8, stateDir = Some(tmpDir("state")))
    assert(reports.size == 4)
    assert(reports.forall(!_.skipped))
    // counters consistency: extracted == applied + deletes + dedupDrops per epoch
    reports.foreach { r =>
      assert(r.stats.rowsExtracted ==
        r.stats.rowsApplied + r.stats.deletesApplied + r.stats.dedupDrops +
          r.stats.rowsQuarantined + r.stats.staleDrops,
        s"epoch ${r.epochId} counter mismatch: ${r.stats}")
      assert(r.stats.staleDrops == 0, "ordered replay must see no stale drops")
    }
    val got = tableState(t)
    val want = oracleState
    assert(got.size == want.size,
      s"row count: got ${got.size}, want ${want.size}")
    assert(got == want)
  }

  test("replaying the same log again is a fenced no-op (exactly-once)") {
    val t = IceTable.create(tmpDir("icetable"), numBuckets = 8)
    ReplayJob.replayGenerated(spark, t, spec, nEpochs = 4, nLogPartitions = 8)
    val v1 = t.currentVersion()
    val m1 = t.currentManifest().get
    // full second replay — every epoch below the committed watermarks
    val reports = ReplayJob.replayGenerated(spark, t, spec, nEpochs = 4,
      nLogPartitions = 8)
    assert(reports.forall(_.skipped), "replay epochs must all be fenced")
    assert(t.currentVersion() == v1, "no new snapshot may be committed")
    assert(t.currentManifest().get == m1)
    assert(tableState(t) == oracleState)
  }

  test("resume after crash between epochs reaches the same final state") {
    val t = IceTable.create(tmpDir("icetable"), numBuckets = 8)
    // first run "crashes" after 2 of 4 epochs: simulate by only running 2
    val sp = spec // local copy: the map closure must not capture the suite
    val per = sp.nEvents / 4
    import spark.implicits._
    val cdf = ChangeLogGen.zipfCdf(sp.nRepos, sp.zipfExponent)
    def slice(lo: Long, hi: Long) =
      spark.range(lo + 1, hi + 1).map(s => ChangeLogGen.eventAt(sp, cdf, s))
    val ranges = (0 until 4).map { e =>
      (e.toLong, e * per - 1, if (e == 3) sp.nEvents - 1 else (e + 1) * per - 1)
    }
    ReplayJob.run(spark, t, id => { val (_, lo, hi) = ranges(id.toInt); slice(lo, hi) },
      ranges.take(2), nLogPartitions = 8)
    assert(t.currentVersion() == 1) // two snapshots: v0, v1
    // second run replays ALL epochs (resume does not know where it died)
    val reports = ReplayJob.run(spark, t,
      id => { val (_, lo, hi) = ranges(id.toInt); slice(lo, hi) },
      ranges, nLogPartitions = 8)
    assert(reports.take(2).forall(_.skipped))
    assert(reports.drop(2).forall(!_.skipped))
    assert(tableState(t) == oracleState)
  }

  test("crash between data-file write and manifest commit is harmless") {
    val t = IceTable.create(tmpDir("icetable"), numBuckets = 8)
    ReplayJob.replayGenerated(spark, t, spec, nEpochs = 2, nLogPartitions = 8)
    val before = tableState(t)
    // simulate the torn write: orphan data files for a never-committed epoch
    import spark.implicits._
    val junk = Seq(("evil/repo", "p", "c", "scala", "junk", "deadbeef", 3))
      .toDF("repo", "path", "commit", "lang", "content", "contentSha", "bucket")
    t.writeEpochFiles(junk, epochId = 999)
    // reader sees only manifest-listed files — orphans are invisible
    assert(tableState(t) == before)
    assert(!t.read(spark).filter(col("repo") === "evil/repo").count().>(0))
    // crash cleanup removes them; committed files stay
    t.dropUncommittedEpochFiles(999)
    assert(t.listEpochFiles(999).isEmpty)
    assert(tableState(t) == before)
  }

  test("over-provisioned epochs never claim unobserved seqs (clamp)") {
    // more epochs than events: unclamped planning used to claim ranges past
    // the log's top seq, permanently fencing events appended later.
    val tiny = LogSpec(seed = 7L, nEvents = 6, nRepos = 2, nPathsPerRepo = 2,
      pDelete = 0.0)
    val logDir = tmpDir("clamplog")
    ChangeLogGen.writeLog(spark, tiny, logDir, nFiles = 2)
    val t = IceTable.create(tmpDir("clamptab"), numBuckets = 2)
    ReplayJob.replayParquetLog(spark, t, logDir, nEpochs = 10,
      nLogPartitions = 2)
    val highNow = t.currentManifest().get.offsets.map(_.highSeq).max
    assert(highNow == 5L, s"claimed high must be the real top seq, got $highNow")
    // append to the log; the appended events must NOT be fenced
    val grown = tiny.copy(nEvents = 12)
    ChangeLogGen.writeLog(spark, grown, logDir, nFiles = 2)
    ReplayJob.replayParquetLog(spark, t, logDir, nEpochs = 3,
      nLogPartitions = 2)
    val want = OracleFold.fold(ChangeLogGen.generateLocal(grown))
      .map { case (k, v) => k -> v.contentSha }
    val got = t.read(spark).select("repo", "path", "contentSha").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(got == want, "appended events must be applied after re-replay")

    // generator path: nEpochs > nEvents must neither fabricate events past
    // nEvents nor claim their seqs
    val t2 = IceTable.create(tmpDir("clampgen"), numBuckets = 2)
    ReplayJob.replayGenerated(spark, t2, tiny, nEpochs = 10,
      nLogPartitions = 2)
    assert(t2.currentManifest().get.offsets.map(_.highSeq).max == 5L)
    val got2 = t2.read(spark).select("repo", "path", "contentSha").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val want2 = OracleFold.fold(ChangeLogGen.generateLocal(tiny))
      .map { case (k, v) => k -> v.contentSha }
    assert(got2 == want2)
  }

  test("merge plan is bucket-aligned: target in place, one winner exchange") {
    import scala.jdk.CollectionConverters._
    val captured = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = captured.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val t = IceTable.create(tmpDir("align"), numBuckets = 4)
      ReplayJob.replayGenerated(spark, t, spec.copy(nEvents = 4000),
        nEpochs = 2, nLogPartitions = 4)
      // correctness through the claimed-partitioning scan path
      val sp = spec.copy(nEvents = 4000)
      val want = OracleFold.fold(ChangeLogGen.generateLocal(sp))
        .map { case (k, v) => k -> (v.contentSha, v.commit) }
      assert(tableState(t) == want,
        "aligned-scan replay must match the oracle fold")
      // listener delivery is async; wait for the epoch-1 merge plan (both
      // sides non-empty -> a real full-outer join: the target side is the
      // DSv2 bucket scan, the winner side the key-grouped-laid ExistingRDD)
      // generous: listener delivery is async and this shared host can stall
      // for tens of seconds under load (2.4x noise, see BENCH.md)
      val deadline = System.currentTimeMillis() + 120000
      def planOpt = captured.asScala.find(p =>
        p.contains("FullOuter") && p.contains("graft_bucket_aligned"))
      while (planOpt.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val plan = planOpt.getOrElse(
        fail(s"no merge plan captured; got ${captured.size} plans"))
      // count only the merge plan proper: the printed string also embeds the
      // adaptive Initial Plan and the cached winners' InMemoryRelation
      // subplan (whose own envelope-aggregation exchange is expected) —
      // both appear strictly BELOW the join.
      val mergeSection = plan.linesIterator
        .takeWhile(l => !l.contains("InMemoryRelation") &&
          !l.contains("== Initial Plan =="))
        .mkString("\n")
      // storage-partitioned join: Catalyst recognises the DSv2 scan's
      // KeyGroupedPartitioning and the winner side's identical claimed
      // layout — ZERO planner exchanges in the merge plan. The target is
      // read IN PLACE (BatchScan directly under the join-side sort); the
      // winner side's single layout shuffle lives inside its RDD lineage
      // (dataFrameWithKeyGroupedPartitioning), not as an Exchange node.
      val nShuffles = "Exchange".r.findAllIn(mergeSection).length
      assert(nShuffles == 0,
        s"bucket-aligned merge: storage-partitioned join must need no " +
          s"planner exchange on either side (got $nShuffles):\n$plan")
      assert(mergeSection.contains("BatchScan graft_bucket_aligned"),
        s"the merge target must be the DSv2 bucket scan:\n$plan")
      assert(mergeSection.contains("ExistingRDD"),
        s"the winner side must be the key-grouped-laid RDD:\n$plan")
    } finally spark.listenerManager.unregister(l)
  }

  test("merge plan stays flat in bucket count (one BatchScan at 128 buckets)") {
    import scala.jdk.CollectionConverters._
    // the r2 construction built numBuckets sub-plans + coalesce(1) each;
    // the DSv2 scan must keep ONE scan node however many buckets exist, and
    // the write must pack the ~100 touched buckets into core-sized tasks
    val captured = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = captured.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val t = IceTable.create(tmpDir("flat"), numBuckets = 128)
      val (_, writeTasks) = resultStageTasks("parquet at IceTable.scala")(
        ReplayJob.replayGenerated(spark, t,
          spec.copy(nEvents = 2000, nRepos = 40, nPathsPerRepo = 20),
          nEpochs = 2, nLogPartitions = 4))
      val cores = spark.sparkContext.defaultParallelism
      assert(writeTasks.size == 2, s"one write job per epoch: $writeTasks")
      assert(writeTasks.forall(_ <= cores),
        s"each epoch's write stage must run at most $cores tasks, not one " +
          s"per touched bucket: $writeTasks")
      val deadline = System.currentTimeMillis() + 120000
      def planOpt = captured.asScala.find(p =>
        p.contains("FullOuter") && p.contains("graft_bucket_aligned"))
      while (planOpt.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val plan = planOpt.getOrElse(fail(s"no merge plan in ${captured.size}"))
      val mergeSection = plan.linesIterator
        .takeWhile(x => !x.contains("InMemoryRelation") &&
          !x.contains("== Initial Plan =="))
        .toSeq
      assert(mergeSection.count(_.contains("BatchScan")) == 1,
        s"exactly ONE scan node regardless of bucket count:\n$plan")
      assert(!mergeSection.exists(_.contains("Exchange")),
        s"packing the write must add no exchange to the merge:\n$plan")
      assert(mergeSection.size < 60,
        s"merge plan must not grow with bucket count " +
          s"(${mergeSection.size} lines):\n$plan")
    } finally spark.listenerManager.unregister(l)
  }

  test("skew: no reducer partition holds a disproportionate share") {
    // Zipf-hot repo must not translate into a hot merge partition: the merge
    // keys on (repo, path) buckets, so hot-repo events spread over its paths.
    val hotSpec = spec.copy(nEvents = 20000, zipfExponent = 1.4)
    import spark.implicits._
    val df = ChangeLogGen.generate(spark, hotSpec)
      .withColumn("bucket", pmod(xxhash64($"repo", $"path"), lit(8)))
    val counts = df.groupBy("bucket").count().collect().map(_.getLong(1))
    val (mx, avg) = (counts.max, counts.sum / counts.length)
    assert(mx < avg * 2, s"bucket skew too high: max=$mx avg=$avg")
  }
}
