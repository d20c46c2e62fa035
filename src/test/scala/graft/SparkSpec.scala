package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Shared local SparkSession for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Runs `f` and returns the task count of the final (result) stage of
    * every job `f` submitted from a call site containing `site`: e.g.
    * "parquet at IceTable.scala" picks out the data-file write jobs. */
  def resultStageTasks[T](site: String)(f: => T): (T, Seq[Int]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val result = js.stageInfos.maxBy(_.stageId)
        if (result.name.contains(site)) seen.add(result.numTasks)
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (r, seen.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
