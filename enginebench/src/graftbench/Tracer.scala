package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** A closed span. Times are wall-clock milliseconds (the clock Spark's
  * listener events use); `counters` hold the deltas and Spark task totals
  * measured over the span. */
final case class Span(id: Int, name: String, parent: Int, startMs: Double,
    endMs: Double, counters: Map[String, Double]) {
  def seconds: Double = (endMs - startMs) / 1000.0
  def apply(k: String): Double = counters.getOrElse(k, 0.0)
}

/** Spans around the benchmark's own calls into the engine, with the Spark
  * work each call caused attributed to it from outside: the span id is a
  * Spark local property on the calling thread, so every job the call
  * submits carries it, and a listener maps jobs and their stages back to
  * the span. Each span also records the Hadoop FileSystem statistics and
  * codegen compile count deltas across the call. Jobs and stages become
  * child spans; a stage keeps its call site. Everything stays in memory
  * until [[writeJson]]. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val Prop = "graftbench.span"

  private final case class JobRec(span: Int, startMs: Long,
      var endMs: Long = -1L)
  private final case class StageRec(stageId: Int, job: Int, name: String,
      submitMs: Long, endMs: Long, taskS: Double, gcS: Double,
      inputRecords: Long, inputBytes: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long, tasks: Int)

  private val jobs = mutable.HashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val closed = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      sid.foreach { s =>
        Tracer.this.synchronized {
          jobs(e.jobId) = JobRec(s.toInt, e.time)
          e.stageIds.foreach(st => stageJob(st) = e.jobId)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized { jobs.get(e.jobId).foreach(_.endMs = e.time) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Tracer.this.synchronized {
        stageJob.get(si.stageId).foreach { j =>
          val m = si.taskMetrics
          // the call site inside the engine, when the stack shows one
          val site = si.details.linesIterator.map(_.trim)
            .find(l => l.startsWith("graft.")).getOrElse(si.name)
          stages += StageRec(si.stageId, j, site,
            si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
            m.executorRunTime / 1000.0, m.jvmGCTime / 1000.0,
            m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead,
            m.memoryBytesSpilled + m.diskBytesSpilled, si.numTasks)
        }
      }
    }
  }
  sc.addSparkListener(listener)

  def stop(): Unit = sc.removeSparkListener(listener)

  /** Run `f` inside a top-level span named `name`. */
  def span[T](name: String)(f: => T): (T, Span) = {
    val id = synchronized { nextId += 1; nextId }
    val fs0 = Tracer.fsStats()
    val cg0 = org.apache.spark.BenchBridge.codegenCompiles
    val prev = sc.getLocalProperty(Prop)
    val t0 = System.currentTimeMillis().toDouble
    val n0 = System.nanoTime()
    sc.setLocalProperty(Prop, id.toString)
    val r = try f finally sc.setLocalProperty(Prop, prev)
    val wallMs = (System.nanoTime() - n0) / 1e6
    val end = t0 + wallMs
    org.apache.spark.BenchBridge.drainListeners(sc)
    val fs1 = Tracer.fsStats()
    val cg1 = org.apache.spark.BenchBridge.codegenCompiles
    val s = synchronized {
      val myJobs = jobs.filter(_._2.span == id)
      val myStages = stages.filter(st => myJobs.contains(st.job))
      val jobIntervals = myJobs.values.map(j =>
        (math.max(j.startMs.toDouble, t0),
          math.min((if (j.endMs < 0) end.toLong else j.endMs).toDouble, end)))
      val busyMs = Tracer.unionLength(jobIntervals.toSeq)
      val counters = Map(
        "jobs" -> myJobs.size.toDouble,
        "stages" -> myStages.size.toDouble,
        "task_s" -> myStages.map(_.taskS).sum,
        "gc_s" -> myStages.map(_.gcS).sum,
        "input_records" -> myStages.map(_.inputRecords).sum.toDouble,
        "input_bytes" -> myStages.map(_.inputBytes).sum.toDouble,
        "shuffle_write_bytes" -> myStages.map(_.shuffleWrite).sum.toDouble,
        "shuffle_read_bytes" -> myStages.map(_.shuffleRead).sum.toDouble,
        "spill_bytes" -> myStages.map(_.spill).sum.toDouble,
        "driver_self_s" -> math.max(0.0, wallMs - busyMs) / 1000.0,
        "codegen_compiles" -> (cg1 - cg0).toDouble,
        "fs_read_ops" -> (fs1.readOps - fs0.readOps).toDouble,
        "fs_write_ops" -> (fs1.writeOps - fs0.writeOps).toDouble,
        "fs_bytes_read" -> (fs1.bytesRead - fs0.bytesRead).toDouble,
        "fs_bytes_written" -> (fs1.bytesWritten - fs0.bytesWritten).toDouble)
      val span = Span(id, name, -1, t0, end, counters)
      closed += span
      // jobs and stages become child spans of the call
      myJobs.toSeq.sortBy(_._1).foreach { case (jid, j) =>
        val jSpanId = -jid - 1 // job spans live in their own id space
        closed += Span(jSpanId, s"job $jid", id, j.startMs.toDouble,
          (if (j.endMs < 0) end.toLong else j.endMs).toDouble, Map.empty)
        myStages.filter(_.job == jid).foreach { st =>
          closed += Span(-1000000 - st.stageId, s"stage ${st.stageId}: ${st.name}",
            jSpanId, st.submitMs.toDouble, st.endMs.toDouble,
            Map("task_s" -> st.taskS, "tasks" -> st.tasks.toDouble,
              "input_records" -> st.inputRecords.toDouble,
              "shuffle_write_bytes" -> st.shuffleWrite.toDouble,
              "spill_bytes" -> st.spill.toDouble))
        }
      }
      myJobs.keys.foreach(jobs.remove)
      stages --= myStages
      span
    }
    (r, s)
  }

  def writeJson(path: String, header: Map[String, String]): Unit = {
    def q(s: String) = Json.str(s)
    val sb = new StringBuilder
    sb.append("{\"header\":{")
    sb.append(header.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(","))
    sb.append("},\"spans\":[\n")
    sb.append(closed.map { s =>
      val c = s.counters.map { case (k, v) => s"${q(k)}:${Json.num(v)}" }
        .mkString(",")
      s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},""" +
        s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},""" +
        s""""self_s":${Json.num(selfSeconds(s))},"counters":{$c}}"""
    }.mkString(",\n"))
    sb.append("\n]}\n")
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, sb.toString.getBytes("UTF-8"))
  }

  /** a span's duration minus the part of it its child spans cover */
  def selfSeconds(s: Span): Double = {
    val kids = closed.filter(_.parent == s.id).map(k =>
      (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
    math.max(0.0, (s.endMs - s.startMs) - Tracer.unionLength(kids.toSeq)) / 1000.0
  }
}

object Tracer {
  final case class Fs(readOps: Long, writeOps: Long, bytesRead: Long,
                      bytesWritten: Long)

  /** process-wide file-system counters: operations from
    * [[CountingLocalFileSystem]], bytes from Hadoop's statistics (every
    * scheme). Tasks run in this JVM under `local[n]`, so their IO is
    * included. */
  def fsStats(): Fs = {
    import scala.jdk.CollectionConverters._
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    Fs(CountingLocalFileSystem.readOps.get, CountingLocalFileSystem.writeOps.get,
      all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }

  /** total length covered by a set of (start, end) intervals */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
