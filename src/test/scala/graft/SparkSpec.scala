package graft

import org.apache.spark.{GraftSparkShims, SparkThrowable}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (tests fork one JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"

  /** The Spark error condition `f` raises, looked up along its causes
    * (a task's error reaches the driver wrapped). */
  def conditionOf(f: => Any): String = {
    val e = intercept[Throwable](f)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case t: SparkThrowable if t.getCondition != null => t.getCondition }
      .getOrElse(fail(s"no Spark error condition in $e", e))
  }

  /** Runs `body` and returns its result with the metrics of every
    * task that ended while it ran (the listener bus is drained before
    * the metrics are read). */
  def withTaskMetrics[T](body: => T): (T, Seq[TaskMetrics]) = {
    val metrics = new java.util.concurrent.ConcurrentLinkedQueue[TaskMetrics]
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) metrics.add(t.taskMetrics)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      GraftSparkShims.drainListenerBus(spark.sparkContext)
      (out, metrics.toArray(Array.empty[TaskMetrics]).toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-spark").toString
    System.setProperty("derby.system.home", tmp)
    val s = GraftSession.builder(4)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
