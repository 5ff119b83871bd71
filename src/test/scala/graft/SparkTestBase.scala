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

  /** One job a measured body started: its job group, whether it ran inside
    * a SQL execution, and its call site — the result stage's name, as the
    * `Dev profile` JOB lines read it.
    */
  final case class Job(group: Option[String], inExecution: Boolean, site: String)
}

abstract class SparkTestBase extends AnyFunSuite {
  protected lazy val spark: SparkSession = SparkTestBase.spark

  /** `body`'s result and the jobs it started ([[SparkTestBase.Job]]). A
    * barrier job before and after `body` bounds the window: the listener
    * bus delivers in order, so once the closing barrier is seen, every job
    * `body` started has been seen too.
    */
  protected def jobsDuring[T](body: => T): (T, Seq[SparkTestBase.Job]) = {
    val sc      = spark.sparkContext
    val barrier = "spark-test-base-barrier"
    val starts  = new ConcurrentLinkedQueue[SparkTestBase.Job]()
    val log = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        starts.add(SparkTestBase.Job(p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))),
          p.exists(_.getProperty("spark.sql.execution.id") != null),
          if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).name))
      }
    }
    def awaitBarrier(): Unit = {
      sc.setJobGroup(barrier, "listener barrier")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!starts.asScala.exists(_.group.contains(barrier))) {
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
      (out, starts.asScala.filterNot(_.group.contains(barrier)).toSeq)
    } finally sc.removeSparkListener(log)
  }
}
