package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.TestBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Runs a block and counts what it cost the session: Spark jobs started,
  * classes newly compiled by Janino (a codegen cache hit compiles
  * nothing), and the long call-site of every stage those jobs planned
  * (it names the Spark method that launched the job, such as a Parquet
  * schema merge).
  */
object Counted {
  final case class Run[A](result: A, jobs: Int, compiles: Long,
      stageDetails: Seq[String])

  def apply[A](spark: SparkSession)(body: => A): Run[A] = {
    val sc = spark.sparkContext
    TestBus.drain(sc)
    val jobs = new AtomicInteger
    val details = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        e.stageInfos.foreach(si => details.add(si.details))
      }
    }
    sc.addSparkListener(listener)
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try {
      val r = body
      TestBus.drain(sc)
      Run(r, jobs.get, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
        details.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
