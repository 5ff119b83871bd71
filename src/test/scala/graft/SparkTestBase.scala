package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite run (JVM-wide — Spark
  * sessions are expensive; ScalaTest runs suites sequentially in one forked
  * JVM per build.sbt's `Test / fork := true`).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = LocalSpark.session("4", "graft-tests")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  protected lazy val spark: SparkSession = SparkTestBase.spark

  /** `body`'s result and the jobs it started, each as (job group, inside a
    * SQL execution). A barrier job before and after `body` bounds the
    * window: the listener bus delivers in order, so once the closing
    * barrier is seen, every job `body` started has been seen too.
    */
  protected def jobsDuring[T](body: => T): (T, Seq[(Option[String], Boolean)]) = {
    val sc      = spark.sparkContext
    val barrier = "spark-test-base-barrier"
    val starts  = new ConcurrentLinkedQueue[(Option[String], Boolean)]()
    val log = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        starts.add((p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))),
          p.exists(_.getProperty("spark.sql.execution.id") != null)))
      }
    }
    def awaitBarrier(): Unit = {
      sc.setJobGroup(barrier, "listener barrier")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!starts.asScala.exists(_._1.contains(barrier))) {
        assert(System.nanoTime() < deadline, "listener never saw the barrier job")
        Thread.sleep(10)
      }
    }
    sc.addSparkListener(log)
    try {
      awaitBarrier()
      starts.clear()
      val out = body
      awaitBarrier()
      (out, starts.asScala.filterNot(_._1.contains(barrier)).toSeq)
    } finally sc.removeSparkListener(log)
  }
}
