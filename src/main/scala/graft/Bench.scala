package graft
import org.apache.spark.sql.functions.{col, expr, to_json, xxhash64}

/** Benchmark main (driver contract): one JSON line with per-query seconds.
  *
  * Harness rules:
  *  - deterministic (sorted) query order, so no query silently absorbs
  *    JIT/codegen warm-up for the others;
  *  - a full warm-up pass first, so timed numbers measure the plan, not
  *    first-touch class loading;
  *  - evaluation is forced with a hash-aggregate over EVERY output column —
  *    `.count()` would let Catalyst prune away the very expressions under
  *    test;
  *  - failures are surfaced (stderr + "errors" map + value -1), never
  *    swallowed into a fast-looking number.
  *
  * One run is one fixed sequence: read history, fork the streaming smoke,
  * time the chunks, retime the flagged keys, print the closing sequence.
  *
  * Process isolation: a single JVM timing the whole surface × 4
  * evaluations accumulates state clearAllCaches cannot shed — JIT
  * code-cache geometry, GC heap shape, block-manager history — measured
  * inflating tail queries ~2× over their standalone cost. So the run is
  * split into [[ChunkSize]]-query chunks and each chunk is timed in a
  * FRESH JVM (the parent re-execs itself with the same JVM flags and
  * classpath, `--chunk n1,n2,…`). Chunks only ever run forked: a child
  * that cannot start or does not report every key leaves its keys at −1
  * with the child's error ([[chunkTimings]]), because the parent is the
  * one process that has to survive to print the closing line.
  *
  * The parent is the only writer of the `BENCH_*` and `STREAMING*`
  * artifacts ([[writeRecord]]). The full per-query map goes to the repo
  * because the consumer of the bench's stdout keeps only its tail.
  */
object Bench {

  /** Queries per isolated JVM. 29 keeps 5 forks for the 144-query surface
    * (each fork costs ~15 s of JVM+session startup). The isolation bar — no
    * query runs after ~80 prior evaluations in its process — holds because
    * the quick keys take ~1 reading each (see [[quickAccept]]): a 29-key
    * chunk is ~29 warm-ups + ~22 quick×1 + ~7 slow×3 ≈ 72 evaluations.
    */
  private val ChunkSize = 29

  /** Force full evaluation of a frame, touching every output column: hash
    * all columns per row, xor-fold to one value. Shared with the dev timing
    * tool so the two cannot diverge. Map columns (at ANY nesting depth)
    * aren't hashable by xxhash64 — serialize those first, so a
    * map-returning query is timed, not failed. bit_xor, not sum: a 60M-row
    * sum of 64-bit hashes overflows under ANSI mode; xor is
    * order-insensitive and cannot overflow.
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

  /** Full cache hygiene between query evaluations: `clearCache` frees
    * Dataset-level persists, but queries built on explicitly-owned RDD
    * persists (`Lineage.materialize` loops — dup-clusters, k-core — and the
    * lazy-checkpoint aggregates) leave RAW RDD blocks behind that
    * clearCache cannot see. Left alone those leaks compound and were
    * measured inflating EVERY query ~2.4× through block-manager/memory
    * pressure — so the runner sweeps `getPersistentRDDs` too. Shared by
    * Bench/Verify/ScaleSmoke/Dev so no runner can drift back.
    * blocking = true: an async eviction can still be running when the next
    * timed evaluation starts.
    */
  private[graft] def clearAllCaches(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** (steal, busy, total) jiffies from /proc/stat's aggregate cpu line —
    * busy = total − idle − iowait. Emitted as steal%-over-the-run (this
    * host is virtualized) and, per chunk, as the external-CPU signal behind
    * the `degraded` flag.
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

  /** Load observed around ONE chunk: steal% across the chunk, and the
    * chunk's EXTERNAL cpu draw in cores — host busy jiffies minus the cpu
    * the bench itself (parent + forked child) consumed, over the chunk's
    * wall time. External cores see a competitor inside the same VM (a
    * concurrent Verify/sbt/stress run), which steal cannot; steal sees the
    * hypervisor, which busy jiffies cannot.
    */
  private[graft] final case class ChunkLoad(stealPct: Double, externalCores: Double)

  /** Hot-chunk predicate, shared by the retry site and the verdict site: a
    * competing workload plausibly distorted the chunk's timings when
    * external busy CPU exceeds a quarter of the machine or hypervisor steal
    * exceeds 2%. Thresholds are deliberately coarse — the flag exists so a
    * history consumer can FILTER contaminated runs, not to rank load.
    *
    * Two sensors only: replaying the 66-entry r1–r18 history
    * (`BenchReplaySpec`) shows no other sensor the bench once carried ever
    * decided a verdict.
    */
  private[graft] def isHot(cl: ChunkLoad, cores: Int): Boolean =
    cl.externalCores > cores / 4.0 || cl.stealPct > 2.0

  /** Minimal JSON string escape for builder-controlled content (query
    * names, whitespace-collapsed error text).
    */
  private[graft] def jstr(s: String) =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** One timed query result: median-of-3 seconds (−1 on failure), the
    * first error message if any repeat failed, and — for the
    * [[PhasedQueries]] composites — the phase split of one DEDICATED
    * untimed evaluation run after the repeats. Phases are diagnostic
    * sub-timings, never a partition of the median: the capture evaluation
    * may execute a different physical shape than the timed lazy plan (the
    * crossmodal composite materializes its sides eagerly under capture,
    * which measured ~2× its lazy wall — the reason the timed repeats are
    * capture-free), so compare phases to PHASES across rounds and totals
    * to totals, never one to the other.
    *
    * `stealPct`: hypervisor steal across THIS query's timed repeats. A
    * short steal burst inside a long chunk averages under every chunk
    * threshold yet can make a 0.4 s query read 18×; the per-query window
    * shows it. Diagnostic context for the suspect flags, never an input to
    * the verdicts.
    */
  private[graft] final case class Timed(name: String, secs: Double,
      err: Option[String], phases: Seq[(String, Double)] = Nil,
      stealPct: Double = 0.0)

  /** The queries that self-attribute phase splits under a
    * [[graft.Phases]] capture. Only these pay the extra diagnostic
    * evaluation — it rides the bench's wall clock, never `queries[k]` —
    * and the TIMED repeats run capture-free so every published total is
    * the plain lazy plan's (the crossmodal composite's capture mode
    * inserts persist+count barriers).
    */
  private[graft] val PhasedQueries: Set[String] =
    Set("q_ann_ivfpq", "q_pq_adc", "q_crossmodal_dups", "q_hybrid_rrf",
      "q_semdedup", "q_containment_pairs",
      // the iterative graph family: dup_clusters self-attributes for free
      // (the contraction is driver-eager); reach_hops uses the
      // capture-gated count pattern
      "q_dup_clusters", "q_reach_hops",
      // the last two ≥2 s-median keys without stage attribution, both on
      // the capture-gated count pattern
      "q_pagerank", "q_dup_span_coverage")

  // ---- wall-clock self-deadline + cost controls --------------------------
  //
  // A capture once died at its caller's wall cap with nothing parseable
  // emitted. Three layered defenses:
  //  1. an internal deadline checked between chunks (and before each
  //     retime chunk) — when it trips, everything un-run is SKIPPED with
  //     visible skip records and the closing sequence prints immediately
  //     (`deadline_hit:true`, run stamped degraded);
  //  2. a degrade ladder — when the measured pace projects past the
  //     deadline, remaining chunks drop to repeats=1 and skip the phase
  //     evaluations (stamped `ladder:true` + degraded, never silent);
  //  3. a provisional cumulative closing line after every chunk (the
  //     `partial:true` stamp on [[closingTotalLine]]), so even a kill the
  //     bench cannot see leaves a parseable record in the stdout tail.

  /** Internal wall-clock budget (seconds), `GRAFT_BENCH_DEADLINE_SEC`.
    * Default 1200: completed official captures ran 12–25 minutes, so the
    * caller's cap sits above that, and an idle run finishes well under
    * 1200 s. Junk / non-positive values fall back to the default (a zero
    * budget would skip the whole surface).
    */
  private[graft] val DefaultDeadlineSec = 1200.0
  private[graft] def benchDeadlineSec(env: Option[String]): Double =
    // isFinite too: toDoubleOption accepts "Infinity" and overflow
    // literals like "1e400", which pass `> 0` and then render as the bare
    // token `Infinity` — invalid JSON on the lines whose parseability is
    // the whole contract
    env.flatMap(_.trim.toDoubleOption).filter(d => d > 0 && d.isFinite)
      .getOrElse(DefaultDeadlineSec)

  /** Ladder decision: with `done` of `total` chunks finished in
    * `elapsedSec`, does the measured per-chunk pace project the remaining
    * chunks past `remainingSec`? Once true the run degrades (repeats=1, no
    * phase evaluations, ~2.5× cheaper per chunk) for everything still
    * un-run — a stamped degrade beats both a silent overshoot into the
    * driver's kill and an unnecessarily early skip.
    */
  private[graft] def ladderNeeded(done: Int, total: Int,
      elapsedSec: Double, remainingSec: Double): Boolean =
    done > 0 && total > done &&
      elapsedSec / done * (total - done) > remainingSec

  /** Keys timed with the ADAPTIVE estimator instead of median-of-3: those
    * whose clean-history median is under this bar. Sub-second keys are
    * ~110 of the 144 but a minority of the metric, and they are
    * noise-floor for the suspect machinery; the ≥1 s keys keep median-of-3.
    *
    * The estimator takes ONE post-warm-up reading, published directly when
    * it lands inside the key's own plausibility band
    * ([[QuickAcceptRatio]]× median + [[QuickAcceptSlackSec]]); otherwise a
    * second reading and the min of the two. A steal burst (the 18× shape)
    * can never accept, so a published quick value exceeds its band only
    * when BOTH readings did. The map carries each quick key's median so
    * the CHILD JVM can apply the accept test; a first run (no medians yet)
    * times everything at median-of-3.
    */
  private[graft] val QuickMedianSec = 1.0
  private[graft] val QuickAcceptRatio = 1.3
  private[graft] val QuickAcceptSlackSec = 0.05
  private[graft] def quickKeys(names: Seq[String],
      medians: Map[String, Double]): Map[String, Double] =
    names.flatMap(n => medians.get(n).filter(_ < QuickMedianSec).map(n -> _))
      .toMap

  /** The adaptive-quick accept test: is one reading plausible against the
    * key's own clean-history median? Shared by the child timing loop and
    * the spec so the estimator cannot drift from its documentation.
    */
  private[graft] def quickAccept(reading: Double, median: Double): Boolean =
    reading <= QuickAcceptRatio * median + QuickAcceptSlackSec

  /** Rotate the chunk order by `seed`: in sorted order a deadline trip
    * always starved the SAME alphabetical tail, whose timings could then go
    * stale indefinitely. Seeded from the history length (one more per
    * completed run), so each run stays deterministic (same tree + same
    * history ⇒ same order) while the skip burden moves across the surface.
    * Within-chunk composition and order are untouched, so per-chunk warm-up
    * attribution stays comparable.
    */
  private[graft] def rotatedChunks[A](chunks: Seq[Seq[A]], seed: Int): Seq[Seq[A]] =
    if (chunks.size <= 1) chunks
    else {
      val k = ((seed % chunks.size) + chunks.size) % chunks.size
      chunks.drop(k) ++ chunks.take(k)
    }

  /** Chunk size override (`GRAFT_BENCH_CHUNK_SIZE`) — dev/e2e plumbing
    * only, never set by the driver: the deadline/kill e2e needs a run with
    * >1 chunk over a 4-query subset. Junk / non-positive → [[ChunkSize]].
    */
  private[graft] def chunkSizeFromEnv(env: Option[String]): Int =
    env.flatMap(_.trim.toIntOption).filter(_ > 0).getOrElse(ChunkSize)

  /** Warm up then time one chunk of queries against an OWNED SparkSession
    * (created and stopped here) — the body of a forked chunk child. Median
    * of 3 post-warm-up repeats per query (a single-shot number on a
    * virtualized host conflates the plan with whatever the hypervisor was
    * doing that second) — except for `quick` keys, which take the adaptive
    * estimator (see [[quickKeys]]), and ladder-degraded chunks
    * (`repeats`=1), where everything takes one reading. ANY failed repeat
    * marks the query failed (−1 + error): an aggregate over surviving
    * repeats would print a healthy-looking number for a flaky query.
    */
  private def runChunk(names: Seq[String], sfDir: String, cpus: String,
      repeats: Int = 3, quick: Map[String, Double] = Map.empty,
      phasesEnabled: Boolean = true): Seq[Timed] = {
    val spark = LocalSpark.session(cpus, "graft-bench")
    try {
      def force(name: String): Option[String] =
        try {
          forceFrame(SparkEntry.queries(name)(spark, sfDir))
          None
        } catch { case e: Throwable =>
          Some(e.toString.replaceAll("\\s+", " ").take(300))
        }
      // warm-up: classloading, codegen, parquet footers — on a small
      // worker pool WITHOUT per-query cache sweeps, then ONE blocking
      // sweep before the timed loop. Both halves are fidelity-neutral for
      // the timed numbers and cut the warm-up wall ~2-3×:
      //  - no intra-warm-up sweeps: a query whose warm-up finds another's
      //    live cache for a shared trunk executes its downstream spans over
      //    an InMemoryRelation — exactly the shape its OWN timed evaluation
      //    has after its persist() materializes — and the trunk's kernels
      //    were already Janino-compiled (same subplan ⇒ same generated
      //    class, JVM-wide cache) by whichever query warmed it first; the
      //    timed loop still sweeps before EVERY timed evaluation, so no
      //    warm-up cache survives into a measurement;
      //  - concurrency: warm-up is untimed, so three queries' codegen
      //    compiles and first-touch jobs back-filling each other's stage
      //    tails is pure wall savings; the timed loop stays sequential.
      // Worker count 3: enough to hide compile/schedule gaps, small enough
      // that the box is never oversubscribed 3× on the heavy warm-ups.
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
          // drop caches persisted by OTHER queries' evaluation AND by this
          // query's own previous repeat: each timed number must measure the
          // query's own full pipeline. Intra-query persists still apply.
          // NO capture here: a capture-sensitive composite must never let
          // its diagnostic shape contaminate the published total.
          clearAllCaches(spark)
          val t0 = System.nanoTime()
          val err = force(name)
          (if (err.isEmpty) (System.nanoTime() - t0) / 1e9 else -1.0, err)
        }
        val runs: Seq[(Double, Option[String])] =
          if (isQuick) {
            // adaptive min-of-2 (see quickKeys): a reading inside the
            // key's own plausibility band publishes alone; a rejected one
            // gets the full min-of-2 fallback — a burst can never accept
            val r1 = oneTimed()
            if (r1._2.isEmpty && !quickAccept(r1._1, quick(name)))
              Seq(r1, oneTimed())
            else Seq(r1)
          } else (1 to (if (repeats == 1) 1 else repeats)).map(_ => oneTimed())
        val qSteal =
          (for ((s0, _, t0) <- j0; (s1, _, t1) <- cpuJiffies() if t1 > t0)
            yield math.round((s1 - s0) * 1000.0 / (t1 - t0)) / 10.0)
            .getOrElse(0.0)
        val err = runs.flatMap(_._2).headOption
        val ok  = runs.map(_._1).filter(_ >= 0)
        // quick keys publish the accepted reading or the MIN of their two
        // (additive-positive noise ⇒ min is the robust estimator;
        // sorted(len/2) would pick the MAX of a pair); others the median
        val median =
          if (ok.isEmpty) -1.0
          else if (isQuick) ok.min
          else ok.sorted.apply(ok.length / 2)
        err.foreach(m => System.err.println(s"[bench] $name FAILED: $m"))
        // the phase split comes from ONE dedicated untimed evaluation —
        // see [[PhasedQueries]]; a failure here only costs the split.
        // Skipped under the deadline ladder: phases are diagnostics, and a
        // run racing its budget spends wall on timings first.
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

  /** One timed result as its child-wire lines (`GRAFT_Q name seconds
    * [error…]`, plus optional `GRAFT_PH` phases and `GRAFT_QS` steal) — a
    * deliberately trivial format, because error strings may contain any
    * JSON-hostile character. Split from [[childMain]] so the wire format
    * and [[parseChunk]] are property-tested as a round-trip: a child line
    * the parent cannot read fails the whole chunk.
    */
  private[graft] def childLines(t: Timed): Seq[String] = {
    // phase names are code-controlled identifiers (no spaces/semicolons),
    // so `name=secs;name=secs` parses with two splits
    val ph =
      if (t.phases.nonEmpty)
        Seq(s"GRAFT_PH ${t.name} " +
          t.phases.map { case (p, v) => s"$p=$v" }.mkString(";"))
      else Nil
    // its own line, because GRAFT_Q's 4th token is reserved for error text
    val qs = if (t.stealPct > 0.0) Seq(s"GRAFT_QS ${t.name} ${t.stealPct}") else Nil
    // error text is already whitespace-collapsed by the catch site
    ph ++ qs :+ (s"GRAFT_Q ${t.name} ${t.secs}" +: t.err.toSeq).mkString(" ")
  }

  /** The quick-key argv payload (`name=medianSecs,…`) and its inverse —
    * the medians ride the wire because the CHILD applies [[quickAccept]];
    * names are code-controlled identifiers and the medians are code-
    * rendered doubles, so two splits parse it.
    */
  private[graft] def quickCsvOf(quick: Map[String, Double],
      names: Seq[String]): String =
    names.filter(quick.contains).map(n => s"$n=${quick(n)}").mkString(",")
  private[graft] def parseQuickCsv(csv: String): Map[String, Double] =
    csv.split(',').toSeq.filter(_.contains("=")).flatMap { kv =>
      val i = kv.indexOf('=')
      kv.substring(i + 1).toDoubleOption.map(kv.substring(0, i) -> _)
    }.toMap

  /** Child-mode entry: time the named queries in THIS JVM and print their
    * wire lines, then a final `GRAFT_CPU` line with the child's consumed
    * CPU seconds, which the parent subtracts from the host's busy CPU to
    * isolate EXTERNAL load.
    */
  private def childMain(csv: String, sfDir: String, cpus: String,
      repeats: Int, phasesEnabled: Boolean, quickCsv: String): Unit = {
    runChunk(csv.split(',').toSeq.filter(_.nonEmpty), sfDir, cpus, repeats,
      parseQuickCsv(quickCsv), phasesEnabled)
      .foreach(t => childLines(t).foreach(println))
    println(s"GRAFT_CPU ${ownCpuSec()}")
  }

  /** Parse one `GRAFT_PH` payload (`phase=secs;phase=secs`). */
  private[graft] def parsePhases(payload: String): Seq[(String, Double)] =
    payload.split(';').toSeq.filter(_.contains("=")).map { kv =>
      val i = kv.indexOf('=')
      (kv.substring(0, i), kv.substring(i + 1).toDouble)
    }

  /** Parse a child's `GRAFT_Q` lines (+ its `GRAFT_CPU` self-report). None
    * unless EVERY requested query reported: a chunk is the child's whole
    * report or a failed chunk, never a partial one.
    */
  private[graft] def parseChunk(out: String, names: Seq[String]): Option[(Seq[Timed], Double)] =
    try {
      val phases = out.linesIterator.filter(_.startsWith("GRAFT_PH ")).map { l =>
        val parts = l.split(" ", 3)
        parts(1) -> (if (parts.length >= 3) parsePhases(parts(2)) else Nil)
      }.toMap
      val steals = out.linesIterator.filter(_.startsWith("GRAFT_QS ")).map { l =>
        val parts = l.split(" ", 3)
        parts(1) -> parts(2).toDouble
      }.toMap
      val rows = out.linesIterator.filter(_.startsWith("GRAFT_Q ")).map { l =>
        val parts = l.split(" ", 4)
        val err = if (parts.length >= 4 && parts(3).nonEmpty) Some(parts(3)) else None
        parts(1) -> Timed(parts(1), parts(2).toDouble, err,
          phases.getOrElse(parts(1), Nil), steals.getOrElse(parts(1), 0.0))
      }.toMap
      val cpu = out.linesIterator.find(_.startsWith("GRAFT_CPU "))
        .map(_.split(" ")(1).toDouble).getOrElse(0.0)
      if (names.forall(rows.contains)) Some((names.map(rows), cpu)) else None
    } catch { case _: Exception => None }

  /** One chunk's outcome from its child — `Right(stdout)` of a child that
    * exited 0, or `Left(error)` when it could not start or failed. Returns
    * the timings, the child's CPU seconds, and whether the child reported.
    * Anything short of a full report leaves EVERY key of the chunk at −1
    * with the error (so each one counts in `queries_failed`); nothing is
    * ever re-run in the parent, which has to survive to print the closing
    * line.
    */
  private[graft] def chunkTimings(names: Seq[String],
      child: Either[String, String]): (Seq[Timed], Double, Boolean) =
    child.flatMap(out => parseChunk(out, names)
        .toRight("chunk child did not report every key")) match {
      case Right((timed, cpu)) => (timed, cpu, true)
      case Left(err)           => (names.map(Timed(_, -1.0, Some(err))), 0.0, false)
    }

  /** ProcessBuilder for a child JVM running `mainClass args…` with THIS
    * JVM's flags (-Xmx, --add-opens, -D) and classpath — the fork plumbing
    * shared by the chunks and the streaming smoke. None when the graft
    * classes are not reachable as plain files (an sbt-launcher classpath),
    * where a child could never start. Child stderr routing is the
    * caller's job: it goes to a temp file, replayed only on failure, so a
    * child's Spark startup spew never pushes the closing lines out of the
    * merged stdout+stderr tail a caller keeps.
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

  /** Tail of a child's diverted stderr, replayed to the parent's stderr —
    * only ever called on a FAILED child.
    */
  private def replayChildStderr(errFile: java.nio.file.Path, what: String): Unit =
    try {
      val tail = java.nio.file.Files.readString(errFile)
        .linesIterator.toSeq.takeRight(30)
      if (tail.nonEmpty) {
        System.err.println(s"[bench] $what child stderr tail:")
        tail.foreach(System.err.println)
      }
    } catch { case _: Exception => }

  /** Fork a fresh JVM for one chunk (`--chunk` mode) and read its report
    * through [[chunkTimings]]. The chunk protocol rides argv, not env:
    * repeats, phase flag, and the chunk's quick-key subset with medians.
    */
  private def forkChunk(names: Seq[String], repeats: Int,
      quick: Map[String, Double], phasesEnabled: Boolean): (Seq[Timed], Double, Boolean) = {
    val errFile = java.nio.file.Files.createTempFile("graft-chunk", ".err")
    try {
      val child: Either[String, String] =
        try childJvm("graft.Bench", Seq("--chunk", names.mkString(","),
            repeats.toString, if (phasesEnabled) "1" else "0",
            quickCsvOf(quick, names))) match {
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

  /** Time one chunk in its forked child and measure the load around it:
    * steal% across it, and external CPU cores (host busy minus the bench's
    * own parent+child CPU, per wall second). USER_HZ is 100 on every Linux
    * this runs on. Returns (timings, child reported, load).
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

  /** One chunk load as its JSON fields (no braces). */
  private def chunkLoadFields(c: ChunkLoad): String =
    s""""steal_pct":${c.stealPct},"ext_cores":${c.externalCores}"""

  /** The per-chunk load block + run-level degraded flag for the emitted
    * line — split out so a spec can feed synthetic loads and parse the
    * result. `chunk_load` holds each chunk's KEPT attempt; `retried` holds
    * every attempt a retry threw away, keyed by its chunk's index in
    * `chunk_load`, so a reader can replay which sensor decided each retry.
    */
  private[graft] def loadFieldsJson(chunkLoads: Seq[ChunkLoad], cores: Int,
      runSteal: Option[Double],
      retried: Seq[(Int, ChunkLoad)] = Nil): (String, Boolean) = {
    val hot = chunkLoads.map(isHot(_, cores))
    val perChunk = chunkLoads.zip(hot).map { case (c, h) =>
      s"""{${chunkLoadFields(c)},"hot":$h}"""
    }.mkString("[", ",", "]")
    val thrownAway = retried.map { case (i, c) =>
      s"""{"chunk":$i,${chunkLoadFields(c)}}"""
    }.mkString("[", ",", "]")
    val run = runSteal.map(s => s""""steal_pct":$s""").toSeq :+
      s""""cores":$cores""" :+ s""""chunk_load":$perChunk""" :+
      s""""retried":$thrownAway"""
    (run.mkString("{", ",", "}"), hot.contains(true))
  }

  // ---- history-aware per-query plausibility ------------------------------
  //
  // The load sensors above measure CPU-shaped contention; cache/IO-shaped
  // variance passes them clean. The history check closes that blind spot
  // from the other side: each query's timing is compared to ITS OWN median
  // over the last clean history entries, and a run where several TRIVIAL
  // queries inflate together is stamped suspect — one plan change cannot
  // touch unrelated one-scan queries at once, so co-inflation is
  // contention by definition.

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
  /** …past this inflation ratio become retime-eligible when
    * [[CoInflateCount]] of them co-inflate in one capture (1.7–1.9×
    * readings on ≥0.4 s keys otherwise sit under tier 1's 2.0× bar,
    * un-retimed).
    */
  private[graft] val ModerateRatio = 1.7

  /** The tier-1 per-query inflation predicate — unconditional flag. */
  private[graft] def tier1Inflated(secs: Double, median: Double): Boolean =
    secs > SuspectRatio * median && secs - median > SuspectMinDeltaSec

  /** The tier-2 (moderate) inflation predicate — flags only when
    * [[CoInflateCount]] such queries co-inflate in one capture (see
    * [[suspectVerdict]]). Shared with the retime adjudication
    * ([[retimeCleanVerdict]]) so "still inflated" and "flaggable" can
    * never drift apart.
    */
  private[graft] def tier2Inflated(secs: Double, median: Double): Boolean =
    median >= ModerateMedianSec && secs > ModerateRatio * median &&
      secs - median > SuspectMinDeltaSec

  /** Core-count eligibility for one history entry: scaling runs of the
    * same tree at a LOW core count land in the same trail with zero flags,
    * and their ~2× readings would otherwise feed the medians, the quick-key
    * bands and the clean band. An entry's core count is its `cpus` stamp,
    * or — for entries that predate the stamp — its `load.cores`. Only an
    * entry carrying NEITHER matches any requested cpus (the oldest trail
    * lines, which age out of the recency windows).
    */
  private[graft] def entryCpus(n: com.fasterxml.jackson.databind.JsonNode): Option[String] =
    Option(n.get("cpus")).map(_.asText()).orElse(
      Option(n.get("load")).flatMap(l => Option(l.get("cores")))
        .filter(_.isNumber).map(_.asInt.toString))
  private[graft] def cpusMatches(stamp: Option[String],
      want: Option[String]): Boolean =
    want.forall(w => stamp.forall(_ == w))

  /** Per-query medians over the last `window` CLEAN history entries —
    * entries that parse, carry a queries map, match this run's scale
    * factor (`sf`, when given: a dev run at sf0.01 must never feed the
    * medians that judge an sf0.1 capture; an entry MISSING the stamp counts
    * as a mismatch unless the whole history predates the field) and core
    * count, and are neither `degraded` nor `suspect` (a contaminated run
    * must not feed the baseline that judges the next one). Queries with
    * fewer than `minSamples` clean readings are absent — no verdict on thin
    * history. Failed timings (−1) never enter a median.
    *
    * A non-suspect entry whose retime pass read `retime_clean:false` is
    * DELIBERATELY still baseline-eligible: excluding it would have no
    * escape hatch — a genuine persistent regression of a few moderate keys
    * re-flags every run (tier 2) with retimes that honestly stay at the new
    * level, so `retime_clean` stays false forever and the medians would
    * freeze. Feeding the baseline instead re-converges the medians after
    * `minSamples` such runs; one outlier cannot move a median.
    *
    * NEW-NORMAL ESCAPE: when the `window` most recent eligible entries
    * are ALL suspect, they become the baseline instead. Without this, a
    * genuine persistent shift that slows several trivial queries together
    * (a config change, a JVM upgrade) would stamp every subsequent run
    * suspect forever. A transient contamination cannot trip the escape
    * (its neighbors are clean).
    */
  private[graft] def historyMedians(lines: Seq[String],
      window: Int = SuspectHistoryWindow,
      minSamples: Int = SuspectMinSamples,
      sf: Option[String] = None,
      cpus: Option[String] = None): Map[String, Double] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // most-recent-first parsed entries: (sf stamp, degraded, suspect, timings)
    val parsed = lines.reverseIterator.flatMap { l =>
      try {
        val n = mapper.readTree(l)
        def flagged(f: String) = Option(n.get(f)).exists(_.asBoolean)
        val qs = Option(n.get("queries")).filter(_.isObject).map { q =>
          val b = Map.newBuilder[String, Double]
          q.properties().forEach { e =>
            val v = e.getValue.asDouble(-1.0)
            if (v >= 0) b += e.getKey -> v
          }
          b.result()
        }
        if (!cpusMatches(entryCpus(n), cpus)) None
        else Some((Option(n.get("sf")).map(_.asText()),
          flagged("degraded"), flagged("suspect"), qs))
      } catch { case _: Exception => None }
    }.toSeq
    // An entry with NO `sf` stamp is a mismatch the moment ANY entry in the
    // history carries one. The grandfather clause is only for a wholly
    // pre-sf history, where excluding unstamped entries would mean no
    // baseline at all — and the era test reads EVERY parsed line,
    // degraded/suspect included: a stamped-but-contaminated entry still
    // proves the stamp era began, it just cannot feed a median.
    val anyStamped = parsed.exists(_._1.isDefined)
    val entries = parsed.collect {
      case (sfStamp, false, suspectFlag, Some(qs))
          if sf.forall(want => sfStamp match {
            case Some(have) => have == want
            case None       => !anyStamped
          }) =>
        (suspectFlag, qs)
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

  /** The windowed clean-band totals: the last `window` baseline-eligible
    * entries' run totals, oldest first. Shared between the bench's emitted
    * `band` field and [[graft.tools.HistoryReport]]'s header so the two
    * can never disagree. Eligibility mirrors the baseline rules
    * (non-degraded, non-suspect, sf-matched, cpus-matched, numeric value)
    * plus `env_inflated`: an entry contaminated by its own admission must
    * not stretch the band it exists to anchor.
    *
    * `sf` matching is EXACT, including absence: `None` matches only
    * entries that carry NO stamp, so an sf-less caller never pools totals
    * across all scales into one meaningless band.
    */
  private[graft] def cleanBandTotals(lines: Seq[String],
      sf: Option[String], window: Int = 10,
      cpus: Option[String] = None): Seq[Double] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    lines.flatMap { l =>
      try {
        val n = mapper.readTree(l)
        def flagged(f: String) = Option(n.get(f)).exists(_.asBoolean)
        val sfOk = Option(n.get("sf")).map(_.asText()) == sf
        // a low-core total in the band is the same class of contamination
        // as a wrong-sf one (see cpusMatches)
        val cpusOk = cpusMatches(entryCpus(n), cpus)
        if (flagged("degraded") || flagged("suspect") ||
            flagged("env_inflated") || !sfOk || !cpusOk) None
        else Option(n.get("value")).filter(_.isNumber).map(_.asDouble)
      } catch { case _: Exception => None }
    }.takeRight(window)
  }

  /** Windowed drift verdict over the clean totals: median of the last
    * [[TrendRecentN]] clean totals vs the median of the up-to-
    * [[TrendPriorN]] clean totals before them, with the creep flag when the
    * recent median sits past [[CreepRatio]]× the prior by at least
    * [[CreepMinDeltaSec]]. A slow creep hides inside a widening min-max
    * band; the trend asks the drift question directly. None below
    * 2 × [[TrendRecentN]] clean entries — a short trail has no trend, only
    * noise. Input is [[cleanBandTotals]]' output (oldest first), so trend
    * and band can never disagree on eligibility.
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

  /** The `band` field body: `[lo,hi]` over the clean totals, `null` when
    * the trail has none — it makes the closing line self-contextualizing
    * for a tail-only consumer. 0.1-rounded: the band is a plausibility
    * yardstick, not a measurement.
    */
  private[graft] def bandJson(cleanTotals: Seq[Double]): String =
    if (cleanTotals.isEmpty) "null"
    else {
      def r1(x: Double) = math.round(x * 10) / 10.0
      s"[${r1(cleanTotals.min)},${r1(cleanTotals.max)}]"
    }

  // ---- plan-independent environment adjudication -------------------------
  //
  // Whole-window contention can inflate every query ~2.6× with every load
  // sensor idle — byte-for-byte what a real multi-query regression prints.
  // The streaming smoke adjudicates that case without any attribution
  // model: its 21-assertion suite is identical every run, so its duration
  // against its own clean-history median is the `env_inflated` tri-state.

  /** Smoke-duration inflation bar (and its absolute floor): the smoke is
    * a fixed ~27 s workload whose clean spread is a couple of seconds, so
    * 1.5× + 3 s is far outside noise.
    */
  private[graft] val EnvSmokeRatio = 1.5
  private[graft] val EnvSmokeMinDeltaSec = 3.0
  /** Reporting smoke entries consulted for the baseline median. */
  private[graft] val SmokeBaselineWindow = 5

  /** The smoke duration (`value`) of one health line — None for skip
    * records and junk (a skipped smoke must never read as a 0-second
    * baseline sample).
    */
  private[graft] def smokeValueOf(line: String): Option[Double] =
    try {
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
      if (Option(n.get("failed")).exists(_.isNumber))
        Option(n.get("value")).filter(_.isNumber).map(_.asDouble)
      else None
    } catch { case _: Exception => None }

  /** Median smoke duration over the last [[SmokeBaselineWindow]] REPORTING
    * history entries (skip/timeout records don't count). None below
    * [[SuspectMinSamples]] samples. Not filtered on contention flags —
    * smoke lines carry none — so the median's outlier absorption is the
    * only defense; at window 5 it absorbs 2 contaminated captures, and a
    * longer streak is the new-normal case the baseline SHOULD converge to.
    */
  private[graft] def smokeBaseline(lines: Seq[String],
      window: Int = SmokeBaselineWindow): Option[Double] = {
    val vals = lines.reverseIterator.flatMap(smokeValueOf).take(window).toSeq
    if (vals.size < SuspectMinSamples) None
    else Some(vals.sorted.apply(vals.size / 2))
  }

  /** The plan-independent verdict, tri-state like the retime fields: true
    * when the smoke read inflated against its own clean history, false
    * when it was judged and was not, null when the smoke was skipped or has
    * no baseline yet (a first run must read unknown, never clean).
    */
  private[graft] def envInflatedVerdict(smokeSec: Option[Double],
      smokeBase: Option[Double]): Option[Boolean] =
    for (cur <- smokeSec; base <- smokeBase)
      yield cur > EnvSmokeRatio * base && cur - base > EnvSmokeMinDeltaSec

  /** Run-level environment-normalization ratio: the MEDIAN over every
    * judged query of (this run's seconds ÷ the query's own clean-history
    * median). A host running 17 % slow reads ~1.17 here even when every
    * contention sensor is quiet; the median is robust to the minority of
    * queries a change actually moved, so `value ÷ env_ratio`
    * env-normalizes a total. None (emitted null) below
    * [[EnvRatioMinSamples]] judged queries — a subset or first run must
    * read unknown, never 1.0. Rounded to 0.01: a yardstick, not a
    * measurement.
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

  /** The suspect verdict for one run: the (name-sorted) flagged queries,
    * each with its inflation RATIO over its history median (so a consumer
    * can rank severity), and the run-level flag — true when at least
    * [[CoInflateCount]] TRIVIAL-median queries inflated together (the
    * contention signature; a single slow query is as likely a real
    * regression, which this flag must never mask). A query flags
    * unconditionally past [[SuspectRatio]]× its median by at least
    * [[SuspectMinDeltaSec]] (tier 1); MODERATE inflations — median ≥
    * [[ModerateMedianSec]], ratio past [[ModerateRatio]] — flag when at
    * least [[CoInflateCount]] of them co-inflate in one capture (tier 2).
    * A LONE moderate inflation never flags on its own. Ratios are rounded
    * to 0.1.
    */
  private[graft] def suspectVerdict(timed: Seq[(String, Double)],
      medians: Map[String, Double]): (Seq[(String, Double)], Boolean) = {
    def ratio(secs: Double, m: Double) = math.round(secs / m * 10) / 10.0
    val tier1 = timed.collect {
      case (name, secs) if secs >= 0 &&
        medians.get(name).exists(tier1Inflated(secs, _)) =>
        name -> ratio(secs, medians(name))
    }
    // tier-1 entries that ALSO satisfy the moderate predicate count toward
    // the co-inflation quorum — the tier exists to widen the flag set,
    // never to raise the bar on what tier 1 already caught
    val moderate = timed.collect {
      case (name, secs) if secs >= 0 &&
        medians.get(name).exists(tier2Inflated(secs, _)) =>
        name -> ratio(secs, medians(name))
    }
    // the RUN-level stamp counts TIER-1 trivial flags only: counting 1.7×
    // tier-2 entries with medians in [0.4, 0.5) would silently lower the
    // documented bar, and a suspect-stamped entry is excluded from the
    // baseline, so a genuine shared-trunk regression at 1.8× would re-flag
    // every run until the all-suspect escape re-converged
    val runSuspect =
      tier1.count { case (n, _) => medians(n) < TrivialMedianSec } >= CoInflateCount
    // tier-2 eligibility is satisfied by its own quorum OR by a run-level
    // tier-1 suspect stamp: once ≥3 trivial queries have confirmed
    // contention for the capture, a lone 1.7–2.0× moderate reading in the
    // same window is adjudicated by the same contention. Retiming it is
    // cheap under the existing RetimeCap.
    val sus =
      (if (moderate.size >= CoInflateCount || (runSuspect && moderate.nonEmpty))
        (tier1 ++ moderate).distinctBy(_._1)
       else tier1).sortBy(_._1)
    (sus, runSuspect)
  }

  /** The `retimed` field body: the suspect queries' one-pass re-readings
    * as `{"q_x":secs,…}` — `{}` when the run had nothing flagged, a raw
    * `-1` when a retime repeat failed (a failure must read as a failure,
    * not vanish).
    */
  private[graft] def retimedFieldJson(vals: Seq[(String, Double)]): String =
    vals.map { case (n, v) => s"${jstr(n)}:$v" }.mkString("{", ",", "}")

  /** Retime-pass cost bound: at most this many flagged queries re-run.
    * A typical contended capture flags ~10; a fully-saturated box could
    * flag most of the surface, and an uncapped retime would then double the
    * whole run. NOT a silent cap: the retimed map's missing entries are
    * visible against suspect_queries, and the selection is
    * worst-ratio-first so what gets dropped is the mildest inflation.
    */
  private[graft] val RetimeCap = 24

  /** The flagged queries the retime pass re-runs: worst inflation ratio
    * first, capped at [[RetimeCap]], name-tiebroken for determinism.
    */
  private[graft] def retimeTargets(suspectQs: Seq[(String, Double)]): Seq[String] =
    suspectQs.sortBy { case (n, r) => (-r, n) }.take(RetimeCap).map(_._1)

  /** The retime ADJUDICATION, tri-state, so a tail-only consumer can see
    * whether a suspect run's own retime pass cleared its flags:
    *
    *  - None (emitted `null`) — nothing was flagged; no adjudication ran.
    *  - Some(true) — EVERY flagged query was retimed and every retime
    *    landed back inside its median band (would re-flag under neither
    *    [[tier1Inflated]] nor [[tier2Inflated]] — the same predicates
    *    that flagged it, so "clean" is exactly "would not flag again").
    *  - Some(false) — some retime stayed inflated, errored (−1), or never
    *    ran (a [[RetimeCap]] drop: no evidence must never read as clean).
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

  /** JSON rendering of the tri-state adjudication fields. */
  private[graft] def triState(v: Option[Boolean]): String =
    v.fold("null")(_.toString)

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

  /** The one artifact writer. A full run replaces the snapshot (tmp file +
    * atomic rename, so a reader never sees a torn record) and appends the
    * line to the trail. A subset run (`GRAFT_BENCH_QUERIES`) replaces only
    * its side file: its partial total would mislead the snapshot, and a
    * clean-stamped partial trail entry would starve the median window of
    * the keys it did not run. Best-effort: an unwritable path must not fail
    * the run that produced the line.
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

  /** Run the streaming-surface smoke ([[graft.tools.StreamingSmoke]]) in a
    * fresh JVM and return its health line — or, when none came, the skip
    * record saying why. A capture never runs `sbt test`, so this is the
    * streaming surface's only health evidence per capture. Forked, never
    * in-process: the smoke owns its SparkSession lifecycle. Hard-capped at
    * min(10 minutes, `capSec`) so a hung stream cannot wedge the bench;
    * a child that printed its health line and then lingered past the cap
    * (e.g. a non-daemon streaming thread) keeps its line.
    */
  private def runStreamingSmoke(capSec: Double): String = {
    val cap = math.max(1L, math.min(600.0, capSec).toLong)
    def skip(reason: String) =
      s"""{"metric":"streaming_smoke","skipped":true,"reason":${jstr(reason)}}"""
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
              .filter(_.startsWith("""{"metric":"streaming_smoke"""")).toSeq
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

  /** Streaming-health fields for the closing lines: this run's smoke
    * `failed` count against the previous `STREAMING_HISTORY.jsonl`
    * entries', plus the one-field regression verdict, so a red↔green flap
    * between captures is visible in the bench record itself. The baseline
    * is the LAST entry that actually REPORTED (carries a numeric `failed`):
    * skip/timeout records would otherwise blind the comparison for a round
    * after every wedged smoke. Returns `"k":v,…` (no braces, no trailing
    * comma) to splice AFTER a headline body, keeping the historical
    * `{"metric":"total_short","value":…` byte prefix intact. A field is
    * `null` when its side never reported, and the verdict is non-null only
    * when BOTH sides did — a first run or a skipped smoke reads unknown,
    * not clean.
    */
  private[graft] def streamingRegression(current: Option[String],
      previous: Seq[String]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def failedOf(line: Option[String]): Option[Int] = line.flatMap { l =>
      try Option(mapper.readTree(l).get("failed")).filter(_.isNumber).map(_.asInt)
      catch { case _: Exception => None }
    }
    val cur  = failedOf(current)
    val prev = previous.reverseIterator.flatMap(l => failedOf(Some(l)))
      .nextOption()
    val regressed = (cur, prev) match {
      case (Some(c), Some(p)) => (c > p).toString
      case _                  => "null"
    }
    s""""streaming_failed":${cur.fold("null")(_.toString)},""" +
      s""""streaming_prev_failed":${prev.fold("null")(_.toString)},""" +
      s""""streaming_regressed":$regressed"""
  }

  /** Print the closing sequence: the smoke's record line, the one
    * `total_short` headline, then ONE compact `"metric":"total"` line as
    * the absolute last program output. The benchmark's consumer keeps only
    * a 2000-char tail of the output and keys on the final
    * `"metric":"total"` line: the
    * full `total` line with its per-query map prints earlier and always
    * exceeds that window, hence the compact repeat. `main` ends on this
    * call; one stray `println` behind it would break the tail parse.
    * The writer is injectable so BenchLoadSpec pins the order without
    * running a bench.
    */
  private[graft] def emitClosing(headline: String, closingTotal: String,
      smokeLines: Seq[String], out: String => Unit): Unit =
    (smokeLines :+ headline :+ closingTotal).foreach(out)

  /** The compact closing `"metric":"total"` line: the headline's scalar
    * fields, none of the per-query / per-chunk maps, so the line stays a
    * few hundred bytes (BenchLoadSpec pins a worst-case-width byte budget).
    * `"metric":"total"` therefore appears more than once per run (the full
    * line, every provisional line, this one): the consumer contract is
    * at-least-once / LAST-wins — key on the final occurrence, never count
    * or sum per metric name.
    *
    * `retime_clean` beside `suspect` tells a tail-only consumer whether the
    * run's own retime pass proved the flags ambient; `retime_hot` says
    * whether that second opinion itself ran under contention; both `null`
    * when nothing was flagged. `env_inflated` is the fixed-workload
    * verdict ([[envInflatedVerdict]]) and `band` the clean-history total
    * band (`null` on a bandless trail); the decision table for reading
    * them is in README's performance section.
    *
    * `partial:true` stamps the PROVISIONAL cumulative record printed after
    * every chunk; the final line drops the stamp (absent, not false).
    * `wall_sec` is the run's own wall clock; `queries_skipped` counts keys
    * the internal deadline skipped (0 on a completed run).
    */
  private[graft] def closingTotalLine(total: Double, degraded: Boolean,
      suspect: Boolean, retimeClean: Option[Boolean],
      retimeHot: Option[Boolean], envInflated: Option[Boolean],
      band: String, run: Int, failed: Int, sfDir: String,
      streamingFields: String, wallSec: Double = 0.0, skipped: Int = 0,
      repeats: Int = 3, partial: Boolean = false): String =
    s"""{"metric":"total","value":$total,"unit":"sec","repeats":$repeats,""" +
      (if (partial) """"partial":true,""" else "") +
      s""""wall_sec":${math.round(wallSec * 10) / 10.0},""" +
      s""""degraded":$degraded,"suspect":$suspect,""" +
      s""""retime_clean":${triState(retimeClean)},""" +
      s""""retime_hot":${triState(retimeHot)},""" +
      s""""env_inflated":${triState(envInflated)},""" +
      s""""band":$band,""" +
      s""""queries_run":$run,"queries_failed":$failed,""" +
      s""""queries_skipped":$skipped,""" +
      s"""$streamingFields,"sf":${jstr(sfDir)}}"""

  /** Print one line as a single write+flush. Under the prefix-free
    * `StdoutOutput` strategy the forked bench shares the console pipe
    * with its children's inherited stderr; `println`'s two writes (text,
    * then newline) could let a late stderr burst land mid-line in a
    * merged capture, and a torn closing line is exactly the parse this
    * exists to guarantee. One ≤4 KB write on a pipe is atomic on Linux.
    */
  private def printAtomic(line: String): Unit = {
    System.out.write((line + "\n").getBytes("UTF-8"))
    System.out.flush()
  }

  /** The run's query list from the optional `GRAFT_BENCH_QUERIES` comma
    * list (dev/e2e plumbing, never set for an official capture). Unknown names drop
    * with a stderr warning; a NON-EMPTY list that resolves to ZERO known
    * names is a HARD ERROR — a silent fallback to everything would turn a
    * typo'd subset run into a full run that writes the official artifacts.
    * An unset or blank variable means the full surface. Deduplicated (a
    * repeated name would be timed and counted twice, and could pad a
    * partial list to full-surface size, defeating the subset guard) and
    * always sorted, which keeps warm-up attribution comparable.
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
    if (args.length >= 2 && args(0) == "--chunk") {
      val repeats  = if (args.length >= 3) args(2).toIntOption.getOrElse(3) else 3
      val phasesOn = if (args.length >= 4) args(3) != "0" else true
      val quickCsv = if (args.length >= 5) args(4) else ""
      childMain(args(1), sfDir, cpus, repeats, phasesOn, quickCsv); return
    }

    // the run's own wall clock, started before any work: feeds the
    // internal deadline and the published wall_sec
    val startNanos = System.nanoTime()
    def elapsedSec = (System.nanoTime() - startNanos) / 1e9
    val deadlineSec = benchDeadlineSec(sys.env.get("GRAFT_BENCH_DEADLINE_SEC"))
    def remainingSec = deadlineSec - elapsedSec

    val cores = Runtime.getRuntime.availableProcessors
    val names = benchQueryNames(sys.env.get("GRAFT_BENCH_QUERIES"))
    // a subset run is any run not covering the full graded surface
    val subsetRun = names.size < SparkEntry.queries.size

    // 1. history, read ONCE before anything appends: the per-query
    // medians, the quick-key set and the clean band. cpus-filtered: the
    // low-core scaling runs share this trail (see cpusMatches)
    val histLines = fileLines(historyPath)
    val medians = historyMedians(histLines, sf = Some(sfDir),
      cpus = Some(cpus))
    val quick = quickKeys(names, medians)
    val band = bandJson(cleanBandTotals(histLines, sf = Some(sfDir),
      cpus = Some(cpus)))
    val prevSmoke = fileLines(s"$repoDir/${StreamingArtifact.history}")

    // 2. the streaming smoke, first and once, capped at the remaining
    // budget: its verdicts then ride every line this run prints, the
    // provisional ones included. Value check, not presence: =0 / empty
    // means "run it".
    val smokeSkipped =
      sys.env.get("GRAFT_SKIP_STREAMING_SMOKE").exists(v => v.nonEmpty && v != "0")
    val smokeStart = elapsedSec
    val smokeLine =
      if (smokeSkipped) None else Some(runStreamingSmoke(capSec = remainingSec))
    val smokeWallSec = elapsedSec - smokeStart
    smokeLine.foreach(writeRecord(StreamingArtifact, _, subsetRun))
    val envInf = envInflatedVerdict(smokeLine.flatMap(smokeValueOf),
      smokeBaseline(prevSmoke))
    val streamingFields = streamingRegression(smokeLine, prevSmoke)

    // 3. the chunks, in history-rotated order (see rotatedChunks)
    val chunkSize = chunkSizeFromEnv(sys.env.get("GRAFT_BENCH_CHUNK_SIZE"))
    val chunks = rotatedChunks(names.grouped(chunkSize).toSeq, histLines.size)
    var forked = 0
    // a persistently-loaded box must not double the run: at most 3 chunk
    // retries per run — past that the run is degraded and says so
    var retryBudget = 3
    // `ladder` degrades the remaining chunks when the measured pace
    // projects past the budget; `deadlineHit` skips them once it is spent
    var ladder = false
    var deadlineHit = false
    def repeats = if (ladder) 1 else 3
    val timedBuf   = scala.collection.mutable.ArrayBuffer.empty[Timed]
    val loadBuf    = scala.collection.mutable.ArrayBuffer.empty[ChunkLoad]
    // each thrown-away attempt's load, keyed by its chunk's loadBuf index
    val retriedBuf = scala.collection.mutable.ArrayBuffer.empty[(Int, ChunkLoad)]
    val skippedBuf = scala.collection.mutable.ArrayBuffer.empty[String]
    def totalOf(ts: Seq[Timed]) = ts.collect { case Timed(_, v, None, _, _) => v }.sum
    // run-level steal covers the timing run (chunks + retime), not the smoke
    val jiffies0 = cpuJiffies()
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
        // retry a hot chunk once — never with the deadline spent: a retry
        // that overshoots the budget trades one contaminated chunk for the
        // whole run's epilogue. The thrown-away attempt's load is kept
        // (load.retried) so the retry decision stays replayable.
        if (isHot(cl, cores) && retryBudget > 0 && remainingSec > 0) {
          retryBudget -= 1
          retriedBuf += loadBuf.size -> cl
          System.err.println(s"[bench] chunk '${chunk.head}…' ran hot " +
            s"(ext_cores=${cl.externalCores} steal=${cl.stealPct}%) — retrying once")
          val again = timeChunk(chunk, repeats, quick, !ladder)
          t = again._1; fk = again._2; cl = again._3
        }
        if (fk) forked += 1
        timedBuf ++= t; loadBuf += cl
        // the provisional cumulative closing line: whatever instant the
        // process dies, the stdout tail holds a parseable record of
        // everything timed so far (last-wins, superseded by the next)
        val sofar = timedBuf.toSeq
        printAtomic(closingTotalLine(totalOf(sofar),
          degraded = loadBuf.exists(isHot(_, cores)) || ladder,
          suspect = suspectVerdict(sofar.map(t => t.name -> t.secs), medians)._2,
          retimeClean = None, retimeHot = None, envInflated = envInf,
          band = band, run = sofar.size, failed = sofar.count(_.err.isDefined),
          sfDir = sfDir, streamingFields = streamingFields,
          wallSec = elapsedSec, skipped = skippedBuf.size,
          repeats = repeats, partial = true))
      }
    }
    val chunksWallSec = elapsedSec - chunksStart
    val timed: Seq[Timed] = timedBuf.toSeq
    val (suspectQs, suspect) = suspectVerdict(timed.map(t => t.name -> t.secs),
      medians)

    // 4. the retime pass: whenever ANYTHING was flagged (a lone tier-1
    // outlier most needs a second opinion), the flagged keys get one more
    // pass in fresh chunk JVMs, and the re-readings ride beside
    // suspect_ratios as `retimed`. Strictly additive: `value` and
    // `queries[k]` stay the original capture's. Deadline-aware: un-run
    // retimes read as retime_clean:false via the no-evidence rule. No
    // phase evaluations — the flagged composites shipped their splits in
    // the main pass.
    val retimeStart = elapsedSec
    val retimeRuns: Seq[(Seq[Timed], Boolean, ChunkLoad)] =
      if (suspectQs.isEmpty || deadlineHit || remainingSec <= 0) Nil
      else retimeTargets(suspectQs).grouped(chunkSize).toSeq.flatMap { c =>
        if (remainingSec <= 0) { deadlineHit = true; None }
        else Some(timeChunk(c, repeats, quick, phasesEnabled = false))
      }
    val retimeWallSec = elapsedSec - retimeStart
    val retimed = retimeRuns.flatMap(_._1.map(t => t.name -> t.secs))
    val retimeHot: Option[Boolean] =
      if (retimeRuns.isEmpty) None
      else Some(retimeRuns.exists(r => isHot(r._3, cores)))
    val retimeClean = retimeCleanVerdict(suspectQs, retimed, medians)

    // 5. the closing sequence
    val qs = timed.map(t => s"${jstr(t.name)}:${t.secs}").mkString("{", ",", "}")
    val errs = timed.collect { case Timed(k, _, Some(m), _, _) => s"${jstr(k)}:${jstr(m)}" }
      .mkString("{", ",", "}")
    // per-query steal context, SPARSE: only queries whose own repeat
    // window saw any steal carry a key
    val qStealJson = timed.filter(_.stealPct > 0.0)
      .map(t => s"${jstr(t.name)}:${t.stealPct}").mkString("{", ",", "}")
    // composite-query phase splits: a separate block keyed by query name,
    // so the scalar `queries` map every consumer parses is untouched;
    // `queries[k] − Σ phases[k]` is the lazy serve residual
    def r3(x: Double) = math.round(x * 1000) / 1000.0
    val phasesJson = timed.filter(_.phases.nonEmpty).map { t =>
      s"${jstr(t.name)}:" + t.phases.map { case (p, v) => s"${jstr(p)}:${r3(v)}" }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val total = totalOf(timed)
    val failed = timed.count(_.err.isDefined)
    val runSteal = for ((s0, _, t0) <- jiffies0; (s1, _, t1) <- cpuJiffies()
        if t1 > t0) yield math.round((s1 - s0) * 10000.0 / (t1 - t0)) / 100.0
    val (loadJson, loadDegraded) =
      loadFieldsJson(loadBuf.toSeq, cores, runSteal, retriedBuf.toSeq)
    // a deadline-tripped or ladder-degraded run is degraded by definition:
    // partial/reduced-protocol totals must never feed the band or medians
    val degraded = loadDegraded || deadlineHit || ladder
    val suspectJson = suspectQs.map { case (n, _) => jstr(n) }.mkString("[", ",", "]")
    val ratiosJson = suspectQs.map { case (n, r) => s"${jstr(n)}:$r" }
      .mkString("{", ",", "}")
    val skippedJson = skippedBuf.map(jstr).mkString("[", ",", "]")
    // `repeats` is nominal-only — quick keys use the adaptive estimator
    // regardless — so the full line names them
    val quickKeysJson =
      names.filter(quick.contains).map(jstr).mkString("[", ",", "]")
    def r1(x: Double) = math.round(x * 10) / 10.0
    // wall attribution beside wall_sec: the three shares partition it (the
    // remainder is launcher/artifact overhead)
    val budgetFields =
      s""""wall_sec":${r1(elapsedSec)},""" +
        s""""wall_chunks_sec":${r1(chunksWallSec)},""" +
        s""""wall_retime_sec":${r1(retimeWallSec)},""" +
        s""""wall_smoke_sec":${r1(smokeWallSec)},""" +
        s""""deadline_sec":$deadlineSec,"deadline_hit":$deadlineHit,""" +
        s""""ladder":$ladder,"quick_n":${timed.count(t => quick.contains(t.name))},""" +
        s""""skipped":$skippedJson"""
    val isolation =
      s""""chunks":${chunks.length},"chunks_forked":$forked,"chunk_size":$chunkSize,"chunks_retried":${retriedBuf.size}"""
    val envRatioJson =
      s""""env_ratio":${envRatio(timed.map(t => t.name -> t.secs), medians)
        .fold("null")(_.toString)}"""
    val adjudication =
      s""""retime_clean":${triState(retimeClean)},"retime_hot":${triState(retimeHot)},""" +
        s""""env_inflated":${triState(envInf)},""" +
        s"""$envRatioJson,"band":$band"""
    // the fields the full line and the total_short headline share, in order
    val common =
      s""""value":$total,"unit":"sec","repeats":$repeats,$budgetFields,"degraded":$degraded,"suspect":$suspect,"suspect_queries":$suspectJson,"suspect_ratios":$ratiosJson,"retimed":${retimedFieldJson(retimed)},$adjudication,$isolation"""
    val fullLine =
      s"""{"metric":"total",$common,"quick_keys":$quickKeysJson,"queries":$qs,"phases":$phasesJson,"query_steal":$qStealJson,"errors":$errs,"load":$loadJson,"cpus":${jstr(cpus)},"sf":"$sfDir"}"""
    println(fullLine)
    writeRecord(BenchArtifact, fullLine, subsetRun)
    val slowest = timed.filter(_.err.isEmpty).sortBy(-_.secs).take(10)
      .map(t => s"${jstr(t.name)}:${t.secs}").mkString("{", ",", "}")
    println(s"""{"metric":"slowest10","unit":"sec","queries":$slowest,"sf":"$sfDir"}""")
    // streaming fields APPENDED so the headline's byte prefix is exactly
    // the historical total_short shape a prefix-matching parser expects
    val headline =
      s"""{"metric":"total_short",$common,"queries_run":${timed.size},"queries_failed":$failed,"queries_skipped":${skippedBuf.size},"load":$loadJson,"sf":"$sfDir",$streamingFields}"""
    // the ABSOLUTE last statement of main — nothing may print after it
    emitClosing(headline,
      closingTotalLine(total, degraded, suspect, retimeClean, retimeHot,
        envInf, band, timed.size, failed, sfDir, streamingFields,
        wallSec = elapsedSec, skipped = skippedBuf.size, repeats = repeats),
      smokeLine.toSeq, printAtomic)
  }
}
