package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.functions.{col, expr, to_json, xxhash64}

import graft.BenchRecord._

/** Benchmark main (driver contract): one JSON line with per-query seconds.
  *
  * Harness rules: sorted query order, so no query silently absorbs
  * JIT/codegen warm-up for the others; a full warm-up pass first; evaluation
  * forced over EVERY output column (`.count()` would let Catalyst prune the
  * expressions under test); failures surfaced as −1 plus the error, never a
  * fast-looking number.
  *
  * One run is one fixed sequence: read history, fork the streaming smoke,
  * time the chunks, retime the flagged keys, print the closing sequence.
  * Each [[ChunkSize]]-query chunk is timed in a FRESH JVM (the parent
  * re-execs itself with its own JVM flags and classpath): one JVM timing the
  * whole surface accumulates JIT, GC-heap and block-manager state
  * clearAllCaches cannot shed, measured inflating tail queries ~2×. A child
  * that fails leaves its keys at −1 ([[chunkTimings]]); the parent has to
  * survive to print the closing line.
  *
  * Every record's format is [[BenchRecord]]'s. The parent is the only
  * writer of the `BENCH_*` and `STREAMING*` artifacts ([[writeRecord]]);
  * the full per-query map goes to the repo because the consumer of the
  * bench's stdout keeps only its tail.
  */
object Bench {

  /** Queries per isolated JVM: 5 forks of ~15 s startup for the 144-query
    * surface, and no query runs after ~80 prior evaluations in its process
    * (~29 warm-ups + ~22 quick×1 + ~7 slow×3, see [[quickAccept]]).
    */
  private val ChunkSize = 29

  /** Force full evaluation of a frame, touching every output column: hash
    * all columns per row, xor-fold to one value. Map columns (at ANY
    * nesting depth) aren't hashable by xxhash64, so they are serialized
    * first. bit_xor, not sum: a 60M-row sum of 64-bit hashes overflows
    * under ANSI mode; xor is order-insensitive and cannot overflow.
    */
  private[graft] def forceFrame(df: org.apache.spark.sql.DataFrame): Unit = {
    def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      dt match {
        case _: MapType      => true
        case a: ArrayType    => hasMap(a.elementType)
        case s: StructType   => s.fields.exists(f => hasMap(f.dataType))
        case _               => false
      }
    }
    val hashable = df.schema.fields.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    df.select(xxhash64(hashable: _*).as("h"))
      .agg(expr("bit_xor(h)")).collect()
    ()
  }

  /** Full cache hygiene between query evaluations: explicitly-owned RDD
    * persists (`Lineage.materialize` loops, lazy checkpoints) leave RAW RDD
    * blocks `clearCache` cannot see, measured inflating EVERY query ~2.4×.
    * Blocking: an async eviction could overlap the next timed evaluation.
    */
  private[graft] def clearAllCaches(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** (steal, busy, total) jiffies from /proc/stat's aggregate cpu line,
    * busy = total − idle − iowait.
    */
  private def cpuJiffies(): Option[(Long, Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val cols = src.getLines().find(_.startsWith("cpu "))
          .get.trim.split("\\s+").drop(1).map(_.toLong)
        val idle   = if (cols.length > 3) cols(3) else 0L
        val iowait = if (cols.length > 4) cols(4) else 0L
        Some((if (cols.length > 7) cols(7) else 0L, cols.sum - idle - iowait, cols.sum))
      } finally src.close()
    } catch { case _: Exception => None }

  /** This JVM's consumed CPU seconds (HotSpot's process-wide counter). */
  private def ownCpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        math.max(0L, os.getProcessCpuTime) / 1e9
      case _ => 0.0
    }

  private def r1(x: Double) = math.round(x * 10) / 10.0

  /** Load observed around ONE chunk: steal% (the hypervisor) and EXTERNAL
    * cores — host busy CPU minus the bench's own, per wall second (a
    * competitor inside the VM, which steal cannot see).
    */
  private[graft] final case class ChunkLoad(stealPct: Double, extCores: Double)

  /** Hot-chunk predicate, shared by the retry site and the verdict site.
    * Deliberately coarse: the flag lets a history consumer FILTER
    * contaminated runs. `BenchReplaySpec` shows no other sensor ever
    * decided a verdict on the 66-entry history.
    */
  private[graft] def isHot(cl: ChunkLoad, cores: Int): Boolean =
    cl.extCores > cores / 4.0 || cl.stealPct > 2.0

  /** One timed query: median-of-3 seconds (−1 on failure), the first
    * error, the [[PhasedQueries]] phase split of one DEDICATED untimed
    * evaluation (diagnostic; the capture may run a different physical shape
    * than the timed plan, so compare phases to phases, never to the median),
    * and the steal across THIS query's repeats — a burst a long chunk
    * averages away; context for the suspect flags, never a verdict input.
    */
  private[graft] final case class Timed(name: String, secs: Double,
      err: Option[String], phases: Seq[(String, Double)] = Nil,
      stealPct: Double = 0.0)

  /** The queries that self-attribute phase splits under a
    * [[graft.Phases]] capture; only these pay the extra diagnostic
    * evaluation, which rides the wall clock, never `queries[k]`.
    */
  private[graft] val PhasedQueries: Set[String] =
    Set("q_ann_ivfpq", "q_pq_adc", "q_crossmodal_dups", "q_hybrid_rrf",
      "q_semdedup", "q_containment_pairs", "q_dup_clusters", "q_reach_hops",
      "q_pagerank", "q_dup_span_coverage")

  // ---- wall-clock self-deadline ------------------------------------------
  //
  // A run always prints a parseable closing line before its caller's wall
  // cap: an internal deadline skips every un-run chunk (`deadline_hit`), a
  // degrade ladder drops the remaining chunks to repeats=1 without phase
  // evaluations when the pace projects past it (`ladder`), both stamp the
  // run degraded, and a provisional line after every chunk covers a kill.

  /** Internal wall-clock budget (seconds), `GRAFT_BENCH_DEADLINE_SEC`;
    * official captures ran 12–25 minutes. Junk, non-positive and non-finite
    * values fall back to the default (`Infinity` is not JSON).
    */
  private[graft] val DefaultDeadlineSec = 1200.0
  private[graft] def benchDeadlineSec(env: Option[String]): Double =
    env.flatMap(_.trim.toDoubleOption).filter(d => d > 0 && d.isFinite)
      .getOrElse(DefaultDeadlineSec)

  /** Does the measured per-chunk pace project the remaining chunks past
    * `remainingSec`? Never before the first chunk has a pace.
    */
  private[graft] def ladderNeeded(done: Int, total: Int,
      elapsedSec: Double, remainingSec: Double): Boolean =
    done > 0 && total > done &&
      elapsedSec / done * (total - done) > remainingSec

  /** Keys timed with the ADAPTIVE estimator instead of median-of-3: those
    * whose clean-history median is under this bar. ONE reading publishes
    * when it lands inside the key's own band ([[quickAccept]]), else the min
    * of two — a steal burst can never accept. The map carries each median to
    * the CHILD JVM; a first run (no medians) times everything at
    * median-of-3.
    */
  private[graft] val QuickMedianSec = 1.0
  private[graft] val QuickAcceptRatio = 1.3
  private[graft] val QuickAcceptSlackSec = 0.05
  private[graft] def quickKeys(names: Seq[String],
      medians: Map[String, Double]): Map[String, Double] =
    names.flatMap(n => medians.get(n).filter(_ < QuickMedianSec).map(n -> _))
      .toMap

  /** Is one reading plausible against the key's clean-history median? */
  private[graft] def quickAccept(reading: Double, median: Double): Boolean =
    reading <= QuickAcceptRatio * median + QuickAcceptSlackSec

  /** Rotate the chunk order by `seed` (the history length), so a deadline
    * trip does not always starve the same alphabetical tail; within-chunk
    * order, and so warm-up attribution, is untouched.
    */
  private[graft] def rotatedChunks[A](chunks: Seq[Seq[A]], seed: Int): Seq[Seq[A]] =
    if (chunks.size <= 1) chunks
    else {
      val k = ((seed % chunks.size) + chunks.size) % chunks.size
      chunks.drop(k) ++ chunks.take(k)
    }

  /** Chunk size override (`GRAFT_BENCH_CHUNK_SIZE`): the deadline e2e
    * needs >1 chunk over a 4-query subset. Junk / non-positive → default.
    */
  private[graft] def chunkSizeFromEnv(env: Option[String]): Int =
    env.flatMap(_.trim.toIntOption).filter(_ > 0).getOrElse(ChunkSize)

  /** Warm up then time one chunk against an OWNED SparkSession — the body
    * of a forked chunk child. Median of 3 repeats, except `quick` keys
    * ([[quickKeys]]) and ladder-degraded chunks (`repeats`=1). ANY failed
    * repeat marks the query failed: an aggregate over the surviving repeats
    * would print a healthy-looking number for a flaky query.
    */
  private def runChunk(names: Seq[String], sfDir: String, cpus: String,
      repeats: Int, quick: Map[String, Double],
      phasesEnabled: Boolean): Seq[Timed] = {
    val spark = LocalSpark.session(cpus, "graft-bench")
    try {
      def force(name: String): Option[String] =
        try {
          forceFrame(SparkEntry.queries(name)(spark, sfDir))
          None
        } catch { case e: Throwable =>
          Some(e.toString.replaceAll("\\s+", " ").take(300))
        }
      // warm-up on 3 workers WITHOUT per-query cache sweeps, then ONE
      // blocking sweep: fidelity-neutral, because generated classes are
      // JVM-wide and the timed loop sweeps before EVERY timed evaluation
      locally {
        val it = names.iterator
        def nextName(): Option[String] =
          it.synchronized { if (it.hasNext) Some(it.next()) else None }
        val workers = (1 to math.min(3, names.size)).map { _ =>
          val t = new Thread(() => {
            var n = nextName()
            while (n.isDefined) { force(n.get); n = nextName() }
          })
          t.start(); t
        }
        workers.foreach(_.join())
        clearAllCaches(spark)
      }
      names.map { name =>
        val isQuick = repeats != 1 && quick.contains(name)
        // per-query steal window (see Timed.stealPct)
        val j0 = cpuJiffies()
        def oneTimed(): (Double, Option[String]) = {
          // each timed number measures the query's own full pipeline, and
          // never under a phase capture (its shape may differ)
          clearAllCaches(spark)
          val t0 = System.nanoTime()
          val err = force(name)
          (if (err.isEmpty) (System.nanoTime() - t0) / 1e9 else -1.0, err)
        }
        val runs: Seq[(Double, Option[String])] =
          if (isQuick) {
            val first = oneTimed()
            if (first._2.isEmpty && !quickAccept(first._1, quick(name)))
              Seq(first, oneTimed())
            else Seq(first)
          } else (1 to (if (repeats == 1) 1 else repeats)).map(_ => oneTimed())
        val qSteal =
          (for ((s0, _, t0) <- j0; (s1, _, t1) <- cpuJiffies() if t1 > t0)
            yield math.round((s1 - s0) * 1000.0 / (t1 - t0)) / 10.0)
            .getOrElse(0.0)
        val err = runs.flatMap(_._2).headOption
        val ok  = runs.map(_._1).filter(_ >= 0)
        // quick keys publish the MIN of their readings: noise is additive
        // and positive, and sorted(len/2) would pick the MAX of a pair
        val median =
          if (ok.isEmpty) -1.0
          else if (isQuick) ok.min
          else ok.sorted.apply(ok.length / 2)
        err.foreach(m => System.err.println(s"[bench] $name FAILED: $m"))
        // a failed capture only costs the split
        val phases =
          if (err.isEmpty && phasesEnabled && PhasedQueries(name)) {
            clearAllCaches(spark)
            Phases.capture(force(name)) match {
              case (None, ph) => ph
              case _          => Nil
            }
          } else Nil
        Timed(name, if (err.isEmpty) median else -1.0, err, phases, qSteal)
      }
    } finally spark.stop()
  }

  /** Child-mode entry: time the requested chunk and print one
    * [[ChunkPrefix]] report with the child's own CPU seconds, which the
    * parent subtracts from the host's busy CPU to isolate EXTERNAL load.
    */
  private def childMain(request: String, sfDir: String, cpus: String): Unit = {
    val r = read(request, classOf[ChunkRequest])
      .getOrElse(throw new IllegalArgumentException(s"unreadable chunk request: $request"))
    val timed = runChunk(r.names, sfDir, cpus, r.repeats, r.quick, r.phasesOn)
    println(ChunkPrefix + write(ChunkReport(timed, ownCpuSec())))
  }

  /** A child's report from its stdout; None unless EVERY requested query
    * is in it — never a partial chunk.
    */
  private[graft] def parseChunk(out: String, names: Seq[String]): Option[(Seq[Timed], Double)] =
    try {
      out.linesIterator.find(_.startsWith(ChunkPrefix))
        .flatMap(l => read(l.drop(ChunkPrefix.length), classOf[ChunkReport]))
        .flatMap { r =>
          val byName = r.timed.map(t => t.name -> t).toMap
          if (names.forall(byName.contains)) Some((names.map(byName), r.cpuSec))
          else None
        }
    } catch { case _: Exception => None }

  /** One chunk's outcome from its child's `Right(stdout)` or
    * `Left(error)`: (timings, child CPU seconds, reported). Anything short
    * of a full report leaves EVERY key at −1 with the error, counted in
    * `queries_failed`; nothing is ever re-run in the parent.
    */
  private[graft] def chunkTimings(names: Seq[String],
      child: Either[String, String]): (Seq[Timed], Double, Boolean) =
    child.flatMap(out => parseChunk(out, names)
        .toRight("chunk child did not report every key")) match {
      case Right((timed, cpu)) => (timed, cpu, true)
      case Left(err)           => (names.map(Timed(_, -1.0, Some(err))), 0.0, false)
    }

  /** A child JVM running `mainClass args…` with THIS JVM's flags and
    * classpath; None when the graft classes are not reachable as plain
    * files (an sbt-launcher classpath). Callers divert child stderr to a
    * file, replayed only on failure, so Spark's startup spew never pushes
    * the closing lines out of the output tail.
    */
  private def childJvm(mainClass: String, args: Seq[String]): Option[ProcessBuilder] = {
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val cp = System.getProperty("java.class.path")
    // getClass on the companion object is already "graft.Bench$"
    val probe = getClass.getName.replace('.', '/') + ".class"
    val cl = new java.net.URLClassLoader(
      cp.split(java.io.File.pathSeparator).filter(_.nonEmpty)
        .map(p => new java.io.File(p).toURI.toURL))
    val reachable = try cl.findResource(probe) != null finally cl.close()
    if (!reachable) return None
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments
    val cmd = new java.util.ArrayList[String]()
    cmd.add(javaBin)
    jvmArgs.forEach(a => if (!a.startsWith("-agentlib")) { cmd.add(a); () })
    cmd.add("-cp"); cmd.add(cp)
    cmd.add(mainClass); args.foreach(cmd.add(_))
    Some(new ProcessBuilder(cmd))
  }

  /** Tail of a FAILED child's diverted stderr, replayed to ours. */
  private def replayChildStderr(errFile: java.nio.file.Path, what: String): Unit =
    try {
      val tail = java.nio.file.Files.readString(errFile)
        .linesIterator.toSeq.takeRight(30)
      if (tail.nonEmpty) {
        System.err.println(s"[bench] $what child stderr tail:")
        tail.foreach(System.err.println)
      }
    } catch { case _: Exception => }

  /** Fork a fresh JVM for one chunk (`--chunk <request>`) and read its
    * report through [[chunkTimings]].
    */
  private def forkChunk(names: Seq[String], repeats: Int,
      quick: Map[String, Double], phasesEnabled: Boolean): (Seq[Timed], Double, Boolean) = {
    val errFile = java.nio.file.Files.createTempFile("graft-chunk", ".err")
    try {
      val request = ChunkRequest(names, repeats, phasesEnabled,
        quick.filter { case (n, _) => names.contains(n) })
      val child: Either[String, String] =
        try childJvm("graft.Bench", Seq("--chunk", write(request))) match {
          case None => Left("chunk child not forkable: classpath not visible as plain files")
          case Some(pb) =>
            pb.redirectError(errFile.toFile)
            val proc = pb.start()
            val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
            val rc = proc.waitFor()
            if (rc == 0) Right(out) else Left(s"chunk child rc=$rc")
        } catch { case e: Exception =>
          Left("chunk fork failed: " + e.toString.replaceAll("\\s+", " ").take(200))
        }
      val res = chunkTimings(names, child)
      if (!res._3) {
        System.err.println(s"[bench] ${res._1.head.err.get} — ${names.size} keys read -1")
        replayChildStderr(errFile, "chunk")
      }
      res
    } finally { java.nio.file.Files.deleteIfExists(errFile); () }
  }

  /** Time one chunk in its forked child and measure the [[ChunkLoad]]
    * around it (USER_HZ is 100). Returns (timings, child reported, load).
    */
  private def timeChunk(names: Seq[String], repeats: Int,
      quick: Map[String, Double], phasesEnabled: Boolean): (Seq[Timed], Boolean, ChunkLoad) = {
    val j0      = cpuJiffies()
    val own0    = ownCpuSec()
    val t0      = System.nanoTime()
    val (timed, childCpu, reported) = forkChunk(names, repeats, quick, phasesEnabled)
    val elapsed = math.max(0.001, (System.nanoTime() - t0) / 1e9)
    val ownSec  = math.max(0.0, ownCpuSec() - own0) + childCpu
    val (stealPct, extCores) =
      (for ((s0, b0, tt0) <- j0; (s1, b1, tt1) <- cpuJiffies()) yield {
        val steal = if (tt1 > tt0) (s1 - s0) * 100.0 / (tt1 - tt0) else 0.0
        val busySec = math.max(0L, b1 - b0) / 100.0
        (steal, math.max(0.0, busySec - ownSec) / elapsed)
      }).getOrElse((0.0, 0.0))
    def r2(x: Double) = math.round(x * 100) / 100.0
    (timed, reported, ChunkLoad(r2(stealPct), r2(extCores)))
  }

  /** The record's `load` block and the run-level degraded flag: each
    * chunk's KEPT attempt with its hot verdict, plus every attempt a retry
    * threw away.
    */
  private[graft] def loadFieldsJson(chunkLoads: Seq[ChunkLoad], cores: Int,
      runSteal: Option[Double],
      retried: Seq[(Int, ChunkLoad)] = Nil): (Load, Boolean) = {
    val kept = chunkLoads.map(c => KeptLoad(c.stealPct, c.extCores, isHot(c, cores)))
    val thrown = retried.map { case (i, c) => RetriedLoad(i, c.stealPct, c.extCores) }
    (Load(runSteal, cores, kept, thrown), kept.exists(_.hot))
  }

  // ---- history-aware per-query plausibility ------------------------------
  //
  // Cache/IO-shaped contention passes the CPU sensors clean, so each
  // query's timing is also compared to ITS OWN median over the last clean
  // history entries; several TRIVIAL queries inflating together stamp the
  // run suspect — one plan change cannot touch unrelated one-scan queries.

  /** Clean entries consulted from the tail of BENCH_HISTORY.jsonl. */
  private[graft] val SuspectHistoryWindow = 5
  /** A query needs this many clean samples before it can be judged. */
  private[graft] val SuspectMinSamples = 3
  /** Per-query flag: > ratio × its history median… */
  private[graft] val SuspectRatio = 2.0
  /** …AND more than this many seconds above it (sub-100 ms jitter on a
    * 50 ms query is noise, not contention).
    */
  private[graft] val SuspectMinDeltaSec = 0.1
  /** A query is "trivial" below this median — too simple to regress big. */
  private[graft] val TrivialMedianSec = 0.5
  /** Run-level suspect: at least this many trivial queries inflated. */
  private[graft] val CoInflateCount = 3
  /** Second-tier eligibility: non-trivial queries above this median… */
  private[graft] val ModerateMedianSec = 0.4
  /** …past this ratio flag when [[CoInflateCount]] of them co-inflate. */
  private[graft] val ModerateRatio = 1.7

  /** The tier-1 per-query inflation predicate — unconditional flag. */
  private[graft] def tier1Inflated(secs: Double, median: Double): Boolean =
    secs > SuspectRatio * median && secs - median > SuspectMinDeltaSec

  /** The tier-2 (moderate) inflation predicate, shared with
    * [[retimeCleanVerdict]] so "still inflated" and "flaggable" agree.
    */
  private[graft] def tier2Inflated(secs: Double, median: Double): Boolean =
    median >= ModerateMedianSec && secs > ModerateRatio * median &&
      secs - median > SuspectMinDeltaSec

  /** The core count of a history entry that carries neither a `cpus`
    * stamp nor `load.cores`: the oldest lines (r1–r7) were all taken on the
    * 32-core driver config.
    */
  private[graft] val UnstampedCpus = "32"

  /** An entry's core count: its `cpus` stamp, else its `load.cores`, else
    * [[UnstampedCpus]]. Low-core scaling runs share the trail with zero
    * flags, and their ~2× readings must not feed another config's
    * baselines.
    */
  private[graft] def entryCpus(n: com.fasterxml.jackson.databind.JsonNode): String =
    Option(n.get("cpus")).map(_.asText()).orElse(
      Option(n.get("load")).flatMap(l => Option(l.get("cores")))
        .filter(_.isNumber).map(_.asInt.toString)).getOrElse(UnstampedCpus)
  private[graft] def cpusMatches(stamp: String, want: Option[String]): Boolean =
    want.forall(_ == stamp)

  /** Per-query medians over the last `window` CLEAN entries: a queries
    * map, this run's `sf` (an unstamped entry mismatches unless the whole
    * history predates the stamp) and core count, neither `degraded` nor
    * `suspect`. Fewer than `minSamples` readings: no verdict; −1 never
    * enters. A `retime_clean:false` entry stays eligible, or a genuine
    * persistent regression would freeze the medians. NEW-NORMAL ESCAPE:
    * when the `window` most recent eligible entries are ALL suspect, they
    * become the baseline, so a lasting shift (a JVM upgrade) cannot stamp
    * every later run suspect; a transient one has clean neighbors.
    */
  private[graft] def historyMedians(history: History,
      window: Int = SuspectHistoryWindow,
      minSamples: Int = SuspectMinSamples,
      sf: Option[String] = None,
      cpus: Option[String] = None): Map[String, Double] = {
    // most recent first; the sf-era test reads degraded/suspect entries too
    val parsed = history.entries.reverse.filter(e => cpusMatches(e.cpus, cpus))
    val anyStamped = parsed.exists(_.sf.isDefined)
    val entries = parsed.collect {
      case e if !e.degraded && e.queries.isDefined && sf.forall(want => e.sf match {
            case Some(have) => have == want
            case None       => !anyStamped
          }) =>
        (e.suspect, e.queries.get.filter(_._2 >= 0).toMap)
    }
    val recent = entries.take(window)
    val pool =
      if (recent.size >= window && recent.forall(_._1)) recent.map(_._2)
      else entries.filterNot(_._1).take(window).map(_._2)
    pool.flatMap(_.toSeq).groupMap(_._1)(_._2).collect {
      case (name, vs) if vs.size >= minSamples =>
        name -> vs.sorted.apply(vs.size / 2)
    }
  }

  /** The last `window` clean entries' totals, oldest first — the emitted
    * `band` and [[graft.tools.HistoryReport]]'s header. The baseline rules
    * plus `env_inflated`; `sf` matches EXACTLY, absence included, so an
    * sf-less caller never pools all scales.
    */
  private[graft] def cleanBandTotals(history: History,
      sf: Option[String], window: Int = 10,
      cpus: Option[String] = None): Seq[Double] =
    history.entries.filter(e => !e.degraded && !e.suspect &&
        !e.envInflated.contains(true) && e.sf == sf && cpusMatches(e.cpus, cpus))
      .flatMap(_.value).takeRight(window)

  /** Drift over [[cleanBandTotals]]' output: (median of the last
    * [[TrendRecentN]], median of up to [[TrendPriorN]] before them, creep)
    * — a slow creep hides inside a widening band. None on a short trail.
    */
  private[graft] val TrendRecentN = 3
  private[graft] val TrendPriorN = 5
  private[graft] val CreepRatio = 1.15
  private[graft] val CreepMinDeltaSec = 5.0
  private[graft] def cleanTrend(
      cleanTotals: Seq[Double]): Option[(Double, Double, Boolean)] =
    if (cleanTotals.size < 2 * TrendRecentN) None
    else {
      def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
      val recent = med(cleanTotals.takeRight(TrendRecentN))
      val prior  = med(cleanTotals.dropRight(TrendRecentN).takeRight(TrendPriorN))
      Some((recent, prior,
        recent > CreepRatio * prior && recent - prior > CreepMinDeltaSec))
    }

  /** The `band` field: (lo, hi) of the clean totals, 0.1-rounded — a
    * yardstick for a tail-only reader, not a measurement.
    */
  private[graft] def band(cleanTotals: Seq[Double]): Option[(Double, Double)] =
    if (cleanTotals.isEmpty) None else Some((r1(cleanTotals.min), r1(cleanTotals.max)))
  private[graft] def bandJson(cleanTotals: Seq[Double]): String = write(band(cleanTotals))

  // ---- plan-independent environment adjudication -------------------------
  //
  // Whole-window contention can inflate every query with every load sensor
  // idle, exactly like a real regression. The streaming smoke is the same
  // workload every run, so its duration against its own history median is
  // the `env_inflated` tri-state.

  /** Smoke inflation bar: a fixed ~27 s workload with a spread of a couple
    * of seconds, so 1.5× + 3 s is far outside noise.
    */
  private[graft] val EnvSmokeRatio = 1.5
  private[graft] val EnvSmokeMinDeltaSec = 3.0
  /** Reporting smoke entries consulted for the baseline median. */
  private[graft] val SmokeBaselineWindow = 5

  /** Median smoke duration over the last [[SmokeBaselineWindow]] REPORTING
    * entries; None below [[SuspectMinSamples]]. The median absorbs 2
    * contaminated captures; a longer streak is a new normal.
    */
  private[graft] def smokeBaseline(history: History,
      window: Int = SmokeBaselineWindow): Option[Double] = {
    val vals = history.entries.reverseIterator.flatMap(_.smokeSec).take(window).toSeq
    if (vals.size < SuspectMinSamples) None
    else Some(vals.sorted.apply(vals.size / 2))
  }

  /** True/false when the smoke was judged against its baseline; None when
    * it was skipped or has none (a first run reads unknown, never clean).
    */
  private[graft] def envInflatedVerdict(smokeSec: Option[Double],
      smokeBase: Option[Double]): Option[Boolean] =
    for (cur <- smokeSec; base <- smokeBase)
      yield cur > EnvSmokeRatio * base && cur - base > EnvSmokeMinDeltaSec

  /** The MEDIAN over judged queries of (seconds ÷ own clean median): a
    * host running 17 % slow reads ~1.17 with every sensor quiet, robust to
    * the few queries a change moved. None below [[EnvRatioMinSamples]].
    */
  private[graft] val EnvRatioMinSamples = 20
  private[graft] def envRatio(timed: Seq[(String, Double)],
      medians: Map[String, Double]): Option[Double] = {
    val rs = timed.collect {
      case (n, s) if s >= 0 && medians.get(n).exists(_ > 0.0) => s / medians(n)
    }
    if (rs.size < EnvRatioMinSamples) None
    else Some(math.round(rs.sorted.apply(rs.size / 2) * 100) / 100.0)
  }

  /** The name-sorted flagged queries with their inflation ratios, and the
    * run-level flag: at least [[CoInflateCount]] TRIVIAL queries past
    * [[tier1Inflated]] (a single slow query is as likely a real regression,
    * which the flag must never mask). Moderate inflations flag only in a
    * quorum or beside a run-level stamp, never alone.
    */
  private[graft] def suspectVerdict(timed: Seq[(String, Double)],
      medians: Map[String, Double]): (Seq[(String, Double)], Boolean) = {
    def ratio(secs: Double, m: Double) = math.round(secs / m * 10) / 10.0
    val tier1 = timed.collect {
      case (name, secs) if secs >= 0 &&
        medians.get(name).exists(tier1Inflated(secs, _)) =>
        name -> ratio(secs, medians(name))
    }
    // tier-1 entries that are also moderate count toward the quorum
    val moderate = timed.collect {
      case (name, secs) if secs >= 0 &&
        medians.get(name).exists(tier2Inflated(secs, _)) =>
        name -> ratio(secs, medians(name))
    }
    // TIER-1 trivial flags only: a lower bar would keep a genuine 1.8×
    // regression out of the baseline until the all-suspect escape
    val runSuspect =
      tier1.count { case (n, _) => medians(n) < TrivialMedianSec } >= CoInflateCount
    val sus =
      (if (moderate.size >= CoInflateCount || (runSuspect && moderate.nonEmpty))
        (tier1 ++ moderate).distinctBy(_._1)
       else tier1).sortBy(_._1)
    (sus, runSuspect)
  }

  /** At most this many flagged queries re-run, so a saturated box cannot
    * double the run; the missing `retimed` entries stay visible.
    */
  private[graft] val RetimeCap = 24

  /** The flagged queries the retime pass re-runs: worst inflation ratio
    * first, capped at [[RetimeCap]], name-tiebroken for determinism.
    */
  private[graft] def retimeTargets(suspectQs: Seq[(String, Double)]): Seq[String] =
    suspectQs.sortBy { case (n, r) => (-r, n) }.take(RetimeCap).map(_._1)

  /** Did the run's own retime pass clear its flags? None: nothing was
    * flagged. Some(true): EVERY flagged query was retimed and would re-flag
    * under neither tier. Some(false): some retime stayed inflated, errored
    * or never ran (no evidence never reads as clean).
    */
  private[graft] def retimeCleanVerdict(suspectQs: Seq[(String, Double)],
      retimed: Seq[(String, Double)],
      medians: Map[String, Double]): Option[Boolean] =
    if (suspectQs.isEmpty) None
    else {
      val re = retimed.toMap
      Some(suspectQs.forall { case (name, _) =>
        re.get(name).exists(v => v >= 0 && medians.get(name).exists(m =>
          !tier1Inflated(v, m) && !tier2Inflated(v, m)))
      })
    }

  /** The artifacts' directory: `SPARK_GRAFT_REPO_DIR`, else the working
    * directory when it looks like the repo root (has build.sbt), else the
    * default checkout path.
    */
  private def repoDir: String =
    sys.env.get("SPARK_GRAFT_REPO_DIR")
      .orElse(
        if (new java.io.File("build.sbt").isFile)
          Some(new java.io.File(".").getCanonicalPath)
        else None)
      .getOrElse("/root/repo")

  /** One artifact family: the latest-run snapshot, its append-only trail,
    * and the side file a subset run writes instead of both.
    */
  private[graft] final case class Artifact(snapshot: String, history: String,
      subset: String)
  private[graft] val BenchArtifact =
    Artifact("BENCH_FULL.json", "BENCH_HISTORY.jsonl", "BENCH_SUBSET.json")
  private[graft] val StreamingArtifact =
    Artifact("STREAMING.json", "STREAMING_HISTORY.jsonl", "STREAMING_SUBSET.json")

  // private[graft]: tools/HistoryReport reads the same trail the suspect
  // verdict feeds on, so the two can never disagree on WHICH file is history
  private[graft] lazy val historyPath = s"$repoDir/${BenchArtifact.history}"

  /** The one artifact writer: a full run replaces the snapshot (tmp +
    * atomic rename) and appends to the trail; a subset run replaces only
    * its side file, since a partial trail entry would starve the median
    * window. Best-effort: an unwritable path must not fail the run.
    */
  private[graft] def writeRecord(a: Artifact, line: String, subset: Boolean,
      dir: String = repoDir): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
    val snap = Paths.get(dir, if (subset) a.subset else a.snapshot)
    // one fixed temp name is enough: this process is the only writer
    val tmp = Paths.get(s"$snap.tmp")
    try {
      try {
        Files.writeString(tmp, line + "\n")
        Files.move(tmp, snap, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
      } finally { Files.deleteIfExists(tmp); () }
      if (!subset)
        Files.writeString(Paths.get(dir, a.history), line + "\n",
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      ()
    } catch { case e: Exception =>
      System.err.println(s"[bench] $snap write failed: ${e.toString.take(200)}")
    }
  }

  /** Run [[graft.tools.StreamingSmoke]] in a fresh JVM — the streaming
    * surface's only health evidence per capture — and return its health
    * line, or a skip record saying why none came. Capped at min(10 min,
    * `capSec`) so a hung stream cannot wedge the bench.
    */
  private def runStreamingSmoke(capSec: Double): String = {
    val cap = math.max(1L, math.min(600.0, capSec).toLong)
    def skip(reason: String) = render(SmokeSkipped, SmokeSkip(reason))
    try {
      childJvm("graft.tools.StreamingSmoke", Nil) match {
        case None => skip("classpath not forkable")
        case Some(pb) =>
          // stdout goes to a file, NOT a pipe: reading a pipe to EOF would
          // block for as long as the child hangs, so the cap could never fire
          val outFile = java.nio.file.Files.createTempFile("graft-smoke", ".out")
          val errFile = java.nio.file.Files.createTempFile("graft-smoke", ".err")
          try {
            pb.redirectOutput(outFile.toFile)
            pb.redirectError(errFile.toFile)
            val proc = pb.start()
            val finished = proc.waitFor(cap, java.util.concurrent.TimeUnit.SECONDS)
            if (!finished) { proc.destroyForcibly(); proc.waitFor() }
            java.nio.file.Files.readString(outFile).linesIterator
              .filter(_.startsWith(s"""{"metric":"${Smoke.metric}"""")).toSeq
              .lastOption.getOrElse {
                replayChildStderr(errFile, "smoke")
                skip(if (finished) s"child rc=${proc.exitValue} with no health line"
                     else s"timeout after ${cap}s")
              }
          } finally {
            java.nio.file.Files.deleteIfExists(outFile)
            java.nio.file.Files.deleteIfExists(errFile); ()
          }
      }
    } catch { case e: Exception =>
      System.err.println(s"[bench] streaming smoke failed: ${e.toString.take(200)}")
      skip("launch failed: " + e.toString.replaceAll("\\s+", " ").take(160))
    }
  }

  /** All lines of a file, empty on any trouble. */
  private def fileLines(path: String): Seq[String] =
    try {
      val p = java.nio.file.Paths.get(path)
      if (java.nio.file.Files.isRegularFile(p))
        java.nio.file.Files.readString(p).linesIterator
          .filter(_.nonEmpty).toSeq
      else Seq.empty
    } catch { case _: Exception => Seq.empty }

  /** (this smoke's `failed`, the last REPORTING history entry's, went up):
    * a red↔green flap shows in the bench record. Skip records never blind
    * the baseline; the verdict is None unless both sides reported.
    */
  private[graft] def streamingRegression(current: Option[Entry],
      previous: History): (Option[Int], Option[Int], Option[Boolean]) = {
    val cur  = current.flatMap(_.failed)
    val prev = previous.entries.reverseIterator.flatMap(_.failed).nextOption()
    (cur, prev, for (c <- cur; p <- prev) yield c > p)
  }

  /** The closing sequence: the smoke's line, the `total_short` headline,
    * then the [[BenchRecord.Compact]] line as the absolute last output
    * (`"metric":"total"` appears more than once per run: LAST wins).
    */
  private[graft] def emitClosing(headline: String, closingTotal: String,
      smokeLines: Seq[String], out: String => Unit): Unit =
    (smokeLines :+ headline :+ closingTotal).foreach(out)

  /** One write+flush: `println`'s two writes could let a child's stderr
    * burst land mid-line; one ≤4 KB pipe write is atomic on Linux.
    */
  private def printAtomic(line: String): Unit = {
    System.out.write((line + "\n").getBytes("UTF-8"))
    System.out.flush()
  }

  /** The run's queries: the `GRAFT_BENCH_QUERIES` comma list (dev/e2e),
    * deduplicated and sorted, unknown names dropped; unset or blank means
    * the full surface. A list with ZERO known names is an error: a fallback
    * to everything would write the official artifacts.
    */
  private[graft] def benchQueryNames(env: Option[String]): Seq[String] =
    env.filter(_.trim.nonEmpty) match {
      case Some(s) =>
        val asked = s.split(',').toSeq.map(_.trim).filter(_.nonEmpty).distinct
        val (known, unknown) = asked.partition(SparkEntry.queries.contains)
        if (unknown.nonEmpty)
          System.err.println(
            s"[bench] GRAFT_BENCH_QUERIES: dropping unknown names: ${unknown.mkString(",")}")
        if (known.isEmpty)
          throw new IllegalArgumentException(
            s"GRAFT_BENCH_QUERIES is set but resolves to zero known queries: '$s'")
        known.sorted
      case None => SparkEntry.queries.keys.toSeq.sorted
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    if (args.length >= 2 && args(0) == "--chunk") { childMain(args(1), sfDir, cpus); return }

    val startNanos = System.nanoTime()
    def elapsedSec = (System.nanoTime() - startNanos) / 1e9
    val deadlineSec = benchDeadlineSec(sys.env.get("GRAFT_BENCH_DEADLINE_SEC"))
    def remainingSec = deadlineSec - elapsedSec

    val cores = Runtime.getRuntime.availableProcessors
    val names = benchQueryNames(sys.env.get("GRAFT_BENCH_QUERIES"))
    // a subset run is any run not covering the full graded surface
    val subsetRun = names.size < SparkEntry.queries.size

    // 1. both trails, parsed ONCE before anything appends. cpus-filtered:
    // the low-core scaling runs share this trail (see cpusMatches)
    val histLines = fileLines(historyPath)
    val history = History.parse(histLines)
    val medians = historyMedians(history, sf = Some(sfDir), cpus = Some(cpus))
    val quick = quickKeys(names, medians)
    val runBand = band(cleanBandTotals(history, sf = Some(sfDir), cpus = Some(cpus)))
    val prevSmoke = History.parse(fileLines(s"$repoDir/${StreamingArtifact.history}"))

    // 2. the streaming smoke, first and once, so its verdicts ride every
    // line this run prints; =0 / empty means "run it"
    val smokeSkipped =
      sys.env.get("GRAFT_SKIP_STREAMING_SMOKE").exists(v => v.nonEmpty && v != "0")
    val smokeStart = elapsedSec
    val smokeLine =
      if (smokeSkipped) None else Some(runStreamingSmoke(capSec = remainingSec))
    val smokeWallSec = elapsedSec - smokeStart
    smokeLine.foreach(writeRecord(StreamingArtifact, _, subsetRun))
    val smoke = smokeLine.flatMap(entry)
    val envInf = envInflatedVerdict(smoke.flatMap(_.smokeSec), smokeBaseline(prevSmoke))
    val (smokeFailed, smokePrevFailed, smokeRegressed) =
      streamingRegression(smoke, prevSmoke)

    // 3. the chunks, in history-rotated order (see rotatedChunks)
    val chunkSize = chunkSizeFromEnv(sys.env.get("GRAFT_BENCH_CHUNK_SIZE"))
    val chunks = rotatedChunks(names.grouped(chunkSize).toSeq, histLines.size)
    var forked = 0
    // a persistently-loaded box must not double the run
    var retryBudget = 3
    var ladder = false
    var deadlineHit = false
    def repeats = if (ladder) 1 else 3
    val timedBuf   = scala.collection.mutable.ArrayBuffer.empty[Timed]
    val loadBuf    = scala.collection.mutable.ArrayBuffer.empty[ChunkLoad]
    // each thrown-away attempt's load, keyed by its chunk's loadBuf index
    val retriedBuf = scala.collection.mutable.ArrayBuffer.empty[(Int, ChunkLoad)]
    val skippedBuf = scala.collection.mutable.ArrayBuffer.empty[String]
    // run-level steal covers the timing run (chunks + retime), not the smoke
    val jiffies0 = cpuJiffies()
    var chunksWallSec, retimeWallSec = 0.0

    /** The run record over the keys timed so far. `retime` is None while
      * chunks still run: the record is then provisional, unadjudicated.
      */
    def record(timed: Seq[Timed],
        retime: Option[Seq[(Seq[Timed], Boolean, ChunkLoad)]]): Run = {
      val secs = timed.map(t => t.name -> t.secs)
      val (suspectQs, suspect) = suspectVerdict(secs, medians)
      val retimed = retime.toSeq.flatten.flatMap(_._1.map(t => t.name -> t.secs))
      val runSteal = for ((s0, _, t0) <- jiffies0; (s1, _, t1) <- cpuJiffies()
          if t1 > t0) yield math.round((s1 - s0) * 10000.0 / (t1 - t0)) / 100.0
      val (load, anyHot) = loadFieldsJson(loadBuf.toSeq, cores, runSteal, retriedBuf.toSeq)
      Run(value = timed.filter(_.err.isEmpty).map(_.secs).sum, repeats = repeats,
        partial = retime.isEmpty, wallSec = r1(elapsedSec),
        wallChunksSec = r1(chunksWallSec), wallRetimeSec = r1(retimeWallSec),
        wallSmokeSec = r1(smokeWallSec), deadlineSec = deadlineSec,
        deadlineHit = deadlineHit, ladder = ladder,
        quickN = timed.count(t => quick.contains(t.name)), skipped = skippedBuf.toSeq,
        // a deadline-tripped or ladder-degraded run is degraded by
        // definition: reduced-protocol totals must never feed the baselines
        degraded = anyHot || deadlineHit || ladder, suspect = suspect,
        suspectQueries = suspectQs.map(_._1), suspectRatios = ListMap.from(suspectQs),
        retimed = ListMap.from(retimed),
        retimeClean = retime.flatMap(_ => retimeCleanVerdict(suspectQs, retimed, medians)),
        retimeHot = retime.filter(_.nonEmpty).map(_.exists(r => isHot(r._3, cores))),
        envInflated = envInf, envRatio = envRatio(secs, medians), band = runBand,
        chunks = chunks.length, chunksForked = forked, chunkSize = chunkSize,
        chunksRetried = retriedBuf.size,
        // `repeats` is nominal only: quick keys take the adaptive estimator
        quickKeys = names.filter(quick.contains), queries = ListMap.from(secs),
        // `queries[k] − Σ phases[k]` is the lazy serve residual
        phases = ListMap.from(timed.filter(_.phases.nonEmpty).map(t => t.name ->
          ListMap.from(t.phases.map { case (p, v) => p -> math.round(v * 1000) / 1000.0 }))),
        // sparse: only queries whose own repeat window saw any steal
        querySteal = ListMap.from(timed.filter(_.stealPct > 0.0).map(t => t.name -> t.stealPct)),
        errors = ListMap.from(timed.flatMap(t => t.err.map(t.name -> _))),
        load = load, cpus = cpus, sf = sfDir, queriesRun = timed.size,
        queriesFailed = timed.count(_.err.isDefined), queriesSkipped = skippedBuf.size,
        streamingFailed = smokeFailed, streamingPrevFailed = smokePrevFailed,
        streamingRegressed = smokeRegressed)
    }

    val chunksStart = elapsedSec
    chunks.zipWithIndex.foreach { case (chunk, ci) =>
      if (deadlineHit || remainingSec <= 0) {
        // budget spent: every un-run key becomes a visible skip record
        deadlineHit = true
        skippedBuf ++= chunk
      } else {
        if (!ladder && ladderNeeded(ci, chunks.length,
            elapsedSec - chunksStart, remainingSec)) {
          ladder = true
          System.err.println(f"[bench] pace projects past the $deadlineSec%.0f s " +
            "deadline — degrading remaining chunks to repeats=1, no phase evaluations")
        }
        var (t, fk, cl) = timeChunk(chunk, repeats, quick, !ladder)
        // retry a hot chunk once, never with the deadline spent; the
        // thrown-away attempt's load stays replayable in load.retried
        if (isHot(cl, cores) && retryBudget > 0 && remainingSec > 0) {
          retryBudget -= 1
          retriedBuf += loadBuf.size -> cl
          System.err.println(s"[bench] chunk '${chunk.head}…' ran hot " +
            s"(ext_cores=${cl.extCores} steal=${cl.stealPct}%) — retrying once")
          val again = timeChunk(chunk, repeats, quick, !ladder)
          t = again._1; fk = again._2; cl = again._3
        }
        if (fk) forked += 1
        timedBuf ++= t; loadBuf += cl
        // whatever instant the process dies, the stdout tail holds a
        // parseable record of everything timed so far
        printAtomic(render(Provisional, record(timedBuf.toSeq, retime = None)))
      }
    }
    chunksWallSec = elapsedSec - chunksStart
    val timed = timedBuf.toSeq

    // 4. the retime pass: the flagged keys get one more pass in fresh
    // chunk JVMs, published beside suspect_ratios as `retimed`; `value`
    // and `queries[k]` stay the original capture's
    val suspectQs = suspectVerdict(timed.map(t => t.name -> t.secs), medians)._1
    val retimeStart = elapsedSec
    val retimeRuns: Seq[(Seq[Timed], Boolean, ChunkLoad)] =
      if (suspectQs.isEmpty || deadlineHit || remainingSec <= 0) Nil
      else retimeTargets(suspectQs).grouped(chunkSize).toSeq.flatMap { c =>
        if (remainingSec <= 0) { deadlineHit = true; None }
        else Some(timeChunk(c, repeats, quick, phasesEnabled = false))
      }
    retimeWallSec = elapsedSec - retimeStart

    // 5. the closing sequence, every line from the one run record
    val run = record(timed, Some(retimeRuns))
    val full = render(Full, run)
    println(full)
    writeRecord(BenchArtifact, full, subsetRun)
    val slowest = timed.filter(_.err.isEmpty).sortBy(-_.secs).take(10)
    println(render(Slowest10, run.copy(queries = ListMap.from(slowest.map(t => t.name -> t.secs)))))
    // the ABSOLUTE last statement of main — nothing may print after it
    emitClosing(render(Headline, run), render(Compact, run), smokeLine.toSeq, printAtomic)
  }
}
