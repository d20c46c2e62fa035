package graftbench

import graft.log.LogSpec
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see enginebench/README.md). */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, size: String, workDir: String, spansOut: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.toSeq.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      trace, m.getOrElse("size", "full"), need("work"), need("spans"))
  }
}

/** Input sizes per workload. `full` is the measured configuration; `tiny`
  * runs every code path and check in seconds (the self-test). */
final case class Sizes(
    // bulk_replay: fresh table per rep, `bulkEpochs` epochs per rep
    bulkRepos: Int, bulkPaths: Int, bulkEpochEvents: Long, bulkEpochs: Int,
    bulkLookups: Int,
    // trickle_merge: pre-loaded table, small epochs with a re-delivered
    // tail, each followed by a feed read, a mirror sync and lookups
    trickleRepos: Int, tricklePaths: Int, tricklePreload: Long,
    trickleEpochEvents: Long, trickleRedeliver: Long, trickleWarmSteps: Int,
    trickleMaxSteps: Int, trickleLookups: Int,
    buckets: Int)

object Sizes {
  val full: Sizes = Sizes(
    bulkRepos = 500, bulkPaths = 400, bulkEpochEvents = 1100000L,
    bulkEpochs = 2, bulkLookups = 16,
    trickleRepos = 100, tricklePaths = 200, tricklePreload = 20000L,
    trickleEpochEvents = 2000L, trickleRedeliver = 200L,
    trickleWarmSteps = 1, trickleMaxSteps = 400, trickleLookups = 4,
    buckets = 32)

  val tiny: Sizes = Sizes(
    bulkRepos = 20, bulkPaths = 20, bulkEpochEvents = 3000L,
    bulkEpochs = 2, bulkLookups = 4,
    trickleRepos = 10, tricklePaths = 20, tricklePreload = 2000L,
    trickleEpochEvents = 200L, trickleRedeliver = 20L,
    trickleWarmSteps = 1, trickleMaxSteps = 3, trickleLookups = 2,
    buckets = 4)

  def of(name: String): Sizes = name match {
    case "full" => full
    case "tiny" => tiny
    case other => throw new IllegalArgumentException(s"unknown --size $other")
  }
}

/** Metric definitions: name -> unit. The end-to-end set is measured with
  * tracing off and printed for every workload; the per-layer set comes from
  * the traced run. Both lists match BENCHMARK.json. */
object MetricNames {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "events_per_sec" -> "events/s",
    "epoch_s_p50" -> "s",
    "epoch_s_p90" -> "s",
    "feed_rows_per_sec" -> "rows/s",
    "lookup_ms_p50" -> "ms",
    "bytes_written_per_event" -> "B/event",
    "offheap_rss_mb" -> "MiB",
    "retained_heap_mb" -> "MiB")

  val perLayer: Seq[(String, String)] = Seq(
    "log.rows_per_sec" -> "rows/s",
    "merge.epoch_s" -> "s",
    "merge.driver_self_s" -> "s",
    "merge.codegen_compiles" -> "count",
    "merge.input_records_per_event" -> "records/event",
    "merge.shuffle_write_bytes_per_event" -> "B/event",
    "merge.task_s" -> "s",
    "merge.core_util" -> "ratio",
    "merge.jobs" -> "count",
    "merge.stages" -> "count",
    "merge.spill_bytes" -> "B",
    "merge.gc_s" -> "s",
    "table.rows_rewritten_per_event" -> "rows/event",
    "table.files_added_per_epoch" -> "files",
    "table.files_skipped_share" -> "ratio",
    "table.manifest_bytes" -> "B",
    "table.fs_write_ops_per_epoch" -> "ops",
    "table.fs_read_ops_per_epoch" -> "ops",
    "table.lookup_candidate_files" -> "files",
    "table.lookup_bytes_read" -> "B",
    "feed.version_s" -> "s",
    "feed.driver_self_s" -> "s",
    "feed.shuffle_bytes_per_row" -> "B/row",
    "feed.files_read_per_version" -> "files",
    "mirror.task_s" -> "s",
    "mirror.driver_self_s" -> "s",
    "mirror.rows_rewritten_per_change" -> "rows/change",
    "trace.overhead_share" -> "ratio")
}

object Main {
  def session(threads: Int, workDir: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.default.parallelism", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    if (trace)
      b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val MiB = 1024.0 * 1024.0

  /** peak resident set (VmHWM) of this JVM in MiB */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  private def heap = java.lang.management.ManagementFactory.getMemoryMXBean
    .getHeapMemoryUsage

  /** MiB of heap committed; run.py fixes it and pre-touches all of it, so
    * it is resident throughout and VmHWM minus it is the off-heap peak */
  def heapCommittedMb(): Double = heap.getCommitted / MiB

  /** MiB of heap still in use after full collections, once Spark's
    * ContextCleaner has dropped the broadcasts and shuffles the first one
    * freed: what the run retains, not what it allocated on the way */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    heap.getUsed / MiB
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val sizes = Sizes.of(a.size)
    val threads = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = session(threads, a.workDir, a.trace)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, a, sizes, threads)
    ctx.phase("session")
    val run: Ctx => Result = a.workload match {
      case "bulk_replay" => Workloads.bulkReplay
      case "trickle_merge" => Workloads.trickleMerge
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // an engine call that throws ends the run: it counts as a failed call
    // and the result reports correct=false
    val result =
      try run(ctx)
      catch {
        case e: Exception =>
          e.printStackTrace()
          ctx.checks.callsFailed += 1
          Result(0.0, 0.0, Map.empty, Map.empty, Nil)
      } finally ctx.tracer.foreach(_.stop())
    val rssMb = peakRssMb()
    // built only when shown: measuring the retained heap forces collections
    val values: Map[String, Double] =
      if (a.trace) result.perLayer
      else result.endToEnd ++ Map("setup_s" -> (sessionS + result.setupS),
        "offheap_rss_mb" -> (rssMb - heapCommittedMb()),
        "retained_heap_mb" -> retainedHeapMb())

    val heapMb = Runtime.getRuntime.maxMemory / MiB
    val header = Map(
      "workload" -> a.workload, "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> (if (a.trace) "1" else "0"),
      "size" -> a.size, "nproc" -> threads.toString,
      "spark_threads" -> threads.toString,
      "shuffle_partitions" -> threads.toString,
      "heap_mb" -> f"$heapMb%.0f", "timed_s" -> f"${result.timedS}%.3f",
      "jvm_wall_s" -> f"${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f")
    ctx.tracer.foreach(_.writeJson(a.spansOut, header))
    spark.stop()

    val checks = ctx.checks
    println("# " + header.map { case (k, v) => s"$k=$v" }.mkString(" "))
    checks.counts.foreach { case (name, n, f) =>
      println(s"# check $name ran=$n failed=$f")
    }
    checks.failures.foreach(f => println(s"# FAILED $f"))
    val failedShare = Stats.ratio(checks.failed.toDouble, checks.attempted.toDouble)
    result.report.foreach { case (name, (v, unit)) =>
      println(s"# metric $name ${Json.num(v)} $unit")
    }
    println(s"# metric peak_rss_mb ${Json.num(rssMb)} MiB")
    println(s"# metric failed_ops_share ${Json.num(failedShare)} share")
    val shown: Seq[(String, String)] =
      if (a.trace) MetricNames.perLayer else MetricNames.endToEnd
    if (a.trace) {
      println("# per-layer table (traced run)")
      shown.foreach { case (n, u) =>
        println(f"#   $n%-38s ${Json.num(values.getOrElse(n, 0.0))}%s $u%s")
      }
      println(s"# spans written to ${a.spansOut}")
    }
    val checksJson = checks.counts.map { case (n, r, f) =>
      s"${Json.str(n)}:{\"ran\":$r,\"failed\":$f}" }.mkString("{", ",", "}")
    println(s"""{"checks":$checksJson}""")
    val metricsJson = shown.map { case (n, u) =>
      s"""${Json.str(n)}:{"value":${Json.num(values.getOrElse(n, 0.0))},"unit":${Json.str(u)}}"""
    }.mkString("{", ",", "}")
    val correct = checks.failed == 0 && checks.attempted > 0
    println(s"""{"correct":$correct,"attempted":${checks.attempted},""" +
      s""""failed":${checks.failed},"metrics":$metricsJson}""")
  }
}

/** Per-run state shared by the workloads. */
final class Ctx(val spark: SparkSession, val args: Args, val sizes: Sizes,
                val threads: Int) {
  val checks = new Checks
  val tracer: Option[Tracer] = if (args.trace) Some(new Tracer(spark)) else None
  private var dirs = 0

  def spec(repos: Int, paths: Int, salt: Long): LogSpec =
    LogSpec(seed = graft.log.ChangeLogGen.mix64(args.seed ^ salt),
      nEvents = Long.MaxValue, nRepos = repos, nPathsPerRepo = paths,
      contentWords = 40)

  /** a fresh table directory under the run's work dir */
  def freshDir(name: String): String = {
    dirs += 1
    s"${args.workDir}/tables/$name-$dirs"
  }

  /** progress on stderr: what just finished, seconds into the JVM */
  def phase(what: String): Unit = System.err.println(
    f"[graftbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s: $what")

  def deleteDir(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))

  /** run an engine call; when `traced`, inside a span */
  def call[T](name: String, traced: Boolean)(f: => T): (T, Option[Span]) =
    tracer.filter(_ => traced) match {
      case Some(t) => val (r, s) = t.span(name)(f); (r, Some(s))
      case None => (f, None)
    }
}
