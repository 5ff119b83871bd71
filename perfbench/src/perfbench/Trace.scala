package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One recorded call: what the benchmark called, when, under which parent
  * span and which operation. Times are nanoseconds from the JVM's clock.
  */
final case class Span(name: String, start: Long, end: Long, parent: Int, op: Int)

/** Spans around the benchmark's own calls into the engine. One client
  * thread makes every call, so the parent is the top of one stack. Spans
  * stay in memory and are written out with the result.
  */
final class Spans(val enabled: Boolean) {
  val all   = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  var op = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = all.size
      all += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), op)
      stack.push(idx)
      try body
      finally {
        stack.pop()
        all(idx) = all(idx).copy(end = System.nanoTime())
      }
    }
}

/** Executor-side counters of one operation type. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var taskMs, cpuNs, gcMs, spill, peakMem, shuffleRead, shuffleWrite = 0L
  /** Job seconds by the engine source file of the job's call site;
    * "<file>/infer" for jobs outside a SQL execution (schema inference).
    */
  val jobSecByFile  = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  val jobsByFile    = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
}

/** A SparkListener that attributes jobs, stages and task metrics to the
  * operation type the benchmark set as job group. Jobs started by threads
  * the benchmark does not own (a streaming query's micro-batch thread)
  * carry their own group and are attributed to the operation in progress:
  * there is one client and its operations do not overlap.
  */
final class OpListener(ops: Set[String]) extends SparkListener {
  @volatile var current: String = "setup"
  val byOp = new ConcurrentHashMap[String, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobInfo = new ConcurrentHashMap[Int, (String, String, Long)]()

  private def counters(op: String): OpCounters = byOp.computeIfAbsent(op, _ => new OpCounters)

  /** "parquet at KeyedTable.scala:117" → "KeyedTable.scala". */
  private def siteFile(name: String): String = {
    val m = """at ([A-Za-z0-9_]+\.scala)""".r.findFirstMatchIn(name)
    m.map(_.group(1)).getOrElse("other")
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val group = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val op    = group.filter(ops).getOrElse(current)
    val site  = Option(j.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(j.stageInfos.headOption.map(_.name)).getOrElse("")
    j.stageIds.foreach(s => stageOp.put(s, op))
    // jobs outside any SQL execution are schema-inference scans
    val inExec = Option(j.properties).exists(_.getProperty("spark.sql.execution.id") != null)
    val key    = if (inExec) siteFile(site) else siteFile(site) + "/infer"
    jobInfo.put(j.jobId, (op, key, j.time))
    counters(op).synchronized { counters(op).jobs += 1 }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(j.jobId)).foreach { case (op, file, t0) =>
      val c = counters(op)
      c.synchronized {
        c.jobSecByFile(file) += (j.time - t0) / 1e3
        c.jobsByFile(file) += 1
      }
    }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val c = counters(stageOp.getOrDefault(s.stageInfo.stageId, current))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val c = counters(stageOp.getOrDefault(t.stageId, current))
    val m = t.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
}

/** JVM-wide readings: GC time, heap peak, CPU time and whole-stage codegen compiles. */
object Jvm {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of per-pool peaks since the last reset (an upper bound of the heap's peak). */
  def heapPeakBytes(): Long = heapPools.map(_.getPeakUsage.getUsed).sum

  private val nsPerTick = 1e9 / java.lang.Long.getLong("perfbench.clk_tck", 100L)

  /** utime + stime, in clock ticks, of a /proc stat file. */
  private def ticks(stat: Path): Long = {
    val s = Files.readString(stat)
    val f = s.substring(s.lastIndexOf(')') + 2).split(' ')
    f(11).toLong + f(12).toLong
  }

  /** /proc stat files of the JIT compiler threads, found once: the JVM
    * keeps them alive (`-XX:-UseDynamicNumberOfCompilerThreads`, see
    * perfbench/run.py).
    */
  private lazy val jitStats: List[Path] = {
    val tasks = Files.list(Paths.get("/proc/self/task"))
    val found =
      try tasks.iterator().asScala.filter { t =>
        try {
          val name = Files.readString(t.resolve("comm"))
          name.startsWith("C1 Compiler") || name.startsWith("C2 Compiler")
        } catch { case _: java.io.IOException => false } // a thread that just ended
      }.map(_.resolve("stat")).toList
      finally tasks.close()
    require(found.nonEmpty, "no JIT compiler thread in /proc/self/task")
    found
  }

  private def jitTicks(): Long = jitStats.map(ticks).sum

  /** CPU time of the JIT compiler threads, in nanoseconds. */
  def jitCpuNs(): Long = (jitTicks() * nsPerTick).toLong

  /** CPU time of the process, every thread living or ended, except the JIT
    * compiler's, in nanoseconds (Linux /proc, clock-tick resolution). In a
    * JVM a minute old the compiler is still compiling Spark's code and
    * takes most of the process's CPU, an amount that varies from run to
    * run and that a long-running server pays once.
    */
  def engineCpuNs(): Long = ((ticks(Paths.get("/proc/self/stat")) - jitTicks()) * nsPerTick).toLong

  /** (compiles, approximate total compile ms) from Spark's codegen histogram. */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
}

/** Local directory readings, taken outside the timed region. */
object Dirs {
  private def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }
  def bytes(dir: String): Long = files(dir).map(Files.size).sum
  /** Data files only: no checksums, no `_SUCCESS` markers. */
  def dataFiles(dir: String): Seq[Path] = files(dir).filter { f =>
    val n = f.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }
}

/** JSON text of the result file, written with json4s from Spark's jars. */
object Json {
  def apply(v: AnyRef): String = org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)
}
