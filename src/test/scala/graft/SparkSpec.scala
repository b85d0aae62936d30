package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` and lists the Spark jobs it starts on this thread,
    * AQE map-stage jobs included, each as the id of the SQL execution
    * it ran under (None for a bare RDD action). Distinct ids count the
    * plans `body` executed. A marker job submitted afterwards flushes
    * the listener bus, so the list is complete on return. */
  def jobsDuring[T](body: => T): (T, Seq[Option[String]]) = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val started = new ConcurrentLinkedQueue[Option[String]]
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            started.add(props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
          case Some(`marker`) => flushed.countDown()
          case _ => ()
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener-bus flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      (out, started.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(cpus = 4)
}
