package graft

import org.apache.spark.GraftTestBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs, generated-code compilations and SQL executions
  * a thunk triggers — for specs that pin how much work a query shape costs
  * (jobs per search, codegen classes per query, one execution per
  * lookup). Jobs and executions come from a listener read after the bus
  * drains; compiles from Spark's JVM-wide `CodegenMetrics`, so one thunk
  * is measured at a time (suites run sequentially in the forked test
  * JVM). */
object WorkCount {

  final case class Work(jobs: Int, compiles: Long, executions: Int)

  def apply[A](spark: SparkSession)(thunk: => A): (A, Work) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val executions = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet()
        case _ =>
      }
    }
    GraftTestBus.drain(sc) // earlier jobs' events must not reach it
    sc.addSparkListener(listener)
    try {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = thunk
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      GraftTestBus.drain(sc)
      (out, Work(jobs.get, compiles, executions.get))
    } finally sc.removeSparkListener(listener)
  }
}
