package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, LocalSpark, Phases, SparkEntry}

/** The dev loop's one main: time, profile, explain or audit queries.
  *
  * {{{
  * Dev time       [query...]  rep1/rep2 wall as construct + eval; a
  *                            Bench.PhasedQueries member adds one untimed
  *                            Phases.capture evaluation and its phase split
  * Dev profile    [query...]  a PROF line per rep, its JOB lines under it
  * Dev plan       [query...]  explain("formatted") before execution
  * Dev final-plan [query...]  the AQE final plan, after execution
  * Dev leaks      [query...]  persistent RDDs left after the cache sweep
  * Dev entry                  SparkEntry.entry: plan, row count, rows
  * }}}
  *
  * No query names means every registered query, sorted; names are checked
  * before the session starts. Reads `SPARK_GRAFT_SF_DIR` (default sf0.1)
  * and `SPARK_GRAFT_CPUS` (default 4), like the bench. Plan evidence is one
  * redirected stdout per capture: `Dev final-plan q_x > plans/<tag>/q_x.txt`.
  */
object Dev {
  final case class Command(name: String, queries: Seq[String])
  private val Subcommands = Seq("time", "profile", "plan", "final-plan", "leaks", "entry")

  /** The command line as a [[Command]], or the message to exit with. */
  def parse(args: Seq[String]): Either[String, Command] = args match {
    case Seq(cmd, names @ _*) if Subcommands.contains(cmd) =>
      val known = SparkEntry.queries.keySet
      val unknown = names.filterNot(known)
      if (cmd == "entry" && names.nonEmpty) Left("entry takes no query names")
      else if (unknown.nonEmpty) Left(s"unknown queries: ${unknown.mkString(", ")}")
      else Right(Command(cmd, if (names.nonEmpty || cmd == "entry") names else known.toSeq.sorted))
    case _ => Left(s"usage: graft.tools.Dev <${Subcommands.mkString("|")}> [query...]")
  }

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Left(msg) => System.err.println(msg); sys.exit(2)
    case Right(cmd) =>
      val spark = LocalSpark.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), s"graft-dev-${cmd.name}")
      spark.sparkContext.setLogLevel("ERROR")
      try run(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"), cmd, println(_))
      finally spark.stop()
  }

  /** Run a parsed command on `spark`, writing its report to `out`. */
  def run(spark: SparkSession, sfDir: String, cmd: Command, out: String => Unit): Unit = {
    val r = new Runner(spark, sfDir, out)
    cmd.name match {
      case "time"       => cmd.queries.foreach(r.time)
      case "profile"    => r.profile(cmd.queries)
      case "plan"       => cmd.queries.foreach(r.plan(_, executed = false))
      case "final-plan" => cmd.queries.foreach(r.plan(_, executed = true))
      case "leaks"      => cmd.queries.foreach(r.leaks)
      case "entry"      => r.entry()
    }
  }

  private final class Runner(spark: SparkSession, sfDir: String, out: String => Unit) {
    private def build(q: String): DataFrame = SparkEntry.queries(q)(spark, sfDir)

    /** Run `f`; a failure prints `<label> FAILED <message>` and yields false. */
    private def attempt(label: String)(f: => Unit): Boolean =
      try { f; true } catch { case e: Throwable =>
        out(s"$label FAILED ${e.toString.replaceAll("\\s+", " ").take(200)}"); false }

    /** One evaluation on swept caches, as the bench times it: construct,
      * then [[Bench.forceFrame]]. Returns (construct, eval) seconds.
      */
    private def evaluate(q: String): (Double, Double) = {
      Bench.clearAllCaches(spark)
      val t0 = System.nanoTime()
      val df = build(q)
      val t1 = System.nanoTime()
      Bench.forceFrame(df)
      ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
    }

    /** The warm-up → clear → timed-force loop: rep1 absorbs codegen and
      * scan warm-up, rep2 is comparable to the bench. `before` runs ahead of
      * each rep; a failed rep prints `<label> rep<n> FAILED …` and ends the
      * query's reps. Returns whether both reps ran.
      */
    private def reps(label: String, q: String, before: () => Unit = () => ())(
        report: (Int, Double, Double) => Unit): Boolean =
      (1 to 2).forall { rep =>
        before()
        attempt(s"$label rep$rep") {
          val (c, e) = evaluate(q)
          report(rep, c, e)
        }
      }

    def time(q: String): Unit = {
      val ok = reps(q, q) { (rep, c, e) =>
        out(f"$q%-24s rep$rep ${c + e}%7.2f s (construct $c%.2f, eval $e%.2f)")
      }
      // the bench's own diagnostic evaluation: untimed, after the reps
      if (ok && Bench.PhasedQueries(q)) attempt(s"$q phases") {
        Bench.clearAllCaches(spark)
        val phases = Phases.capture(Bench.forceFrame(build(q)))._2
        out(f"$q%-24s phases " + phases.map { case (p, v) => f"$p=$v%.2f" }.mkString(" | "))
      }
    }

    def profile(queries: Seq[String]): Unit = {
      val p = new Profiler
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
      // let the listener bus drain so counts attribute to this rep
      def settle(): Unit = Thread.sleep(200)
      try queries.foreach { q =>
        reps(s"PROF $q", q, before = () => { settle(); p.reset() }) { (rep, c, e) =>
          settle()
          out(f"PROF $q rep$rep wall=${c + e}%.3f ${p.summary}")
          p.jobLines.foreach(out)
        }
      } finally {
        spark.listenerManager.unregister(p)
        spark.sparkContext.removeSparkListener(p)
      }
    }

    def plan(q: String, executed: Boolean): Unit = {
      out(s"===== $q =====")
      attempt(q) {
        Bench.clearAllCaches(spark)
        val qe = build(q).queryExecution
        // THIS QueryExecution must run: forceFrame would execute a derived
        // hash-fold plan and leave this one's AdaptiveSparkPlan unfinalized
        if (executed) qe.toRdd.count()
        out(qe.explainString(FormattedMode))
      }
    }

    /** Raw-RDD persists (`Lineage.materialize`, local checkpoints) survive
      * `clearCache`, and each leaked block set slows every later query.
      */
    def leaks(q: String): Unit = {
      attempt(q)(evaluate(q))
      spark.catalog.clearCache()
      val left = spark.sparkContext.getPersistentRDDs.values
      out(if (left.isEmpty) s"$q no leak"
        else s"$q leaks ${left.size} rdds: " +
          left.map(r => s"id=${r.id} ${r.getStorageLevel.description}").mkString("; "))
    }

    def entry(): Unit = {
      val df = SparkEntry.entry(spark)
      out(df.queryExecution.explainString(FormattedMode))
      val rows = df.collect()
      (s"entry rows=${rows.length}" +: rows.map(_.toString)).foreach(out)
    }
  }

  /** Job, stage, task and Catalyst counters for one profiled rep: task time
    * against wall separates driver-side cost from executor compute.
    */
  private final class Profiler extends SparkListener with QueryExecutionListener {
    private val jobs, stages, tasks, taskMs, shRead, shWrite, execs, catalystMs = new AtomicLong
    private val jobStarts = new ConcurrentHashMap[Int, (Long, String)]()
    private val endedJobs = new ConcurrentLinkedQueue[String]()

    def reset(): Unit = {
      Seq(jobs, stages, tasks, taskMs, shRead, shWrite, execs, catalystMs).foreach(_.set(0))
      endedJobs.clear()
    }

    def summary: String =
      f"jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} taskSec=${taskMs.get / 1e3}%.2f " +
        f"shReadMB=${shRead.get / 1e6}%.1f shWriteMB=${shWrite.get / 1e6}%.1f " +
        f"execs=${execs.get} catalystSec=${catalystMs.get / 1e3}%.2f"

    /** `JOB <id> <duration> <call site>[ | <description>]`, in completion order. */
    def jobLines: Seq[String] = endedJobs.asScala.toSeq

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      // the result stage is named after the action's call site
      val site = if (j.stageInfos.isEmpty) "" else j.stageInfos.maxBy(_.stageId).name
      val desc = Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      jobStarts.put(j.jobId, (System.nanoTime(), site + desc.fold("")(" | " + _)))
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(j.jobId)).foreach { case (t0, desc) =>
        endedJobs.add(f"  JOB ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e3}%9.0fus $desc")
      }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(t.taskMetrics).foreach { m =>
        taskMs.addAndGet(m.executorRunTime)
        shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }

    // per-action Catalyst time (analysis, optimization, physical planning)
    // from the QueryExecution tracker: driver-side cost task metrics miss
    private def record(qe: QueryExecution): Unit = {
      execs.incrementAndGet()
      catalystMs.addAndGet(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }
}
