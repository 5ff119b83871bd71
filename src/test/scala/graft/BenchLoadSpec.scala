package graft

import scala.collection.immutable.ListMap

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

import graft.BenchRecord._
import graft.BenchRecordSpec.runRecord

/** The bench's self-qualifying verdicts: the load sensors, the history
  * baselines and their suspect/retime/env adjudication, and the lines that
  * carry them. A run on a contended box must stamp its emitted line so
  * history consumers can filter it, so these tests go through the emitted
  * fields, parsed with Jackson as a real consumer would.
  */
class BenchLoadSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val cores = 32

  private def idle = Bench.ChunkLoad(stealPct = 0.1, extCores = 0.2)

  test("an idle box is not hot; each contention signal alone flips it") {
    assert(!Bench.isHot(idle, cores))
    // a concurrent stress -c 16 / Verify run: ~16 external cores >> cores/4
    assert(Bench.isHot(idle.copy(extCores = 16.0), cores))
    // hypervisor steal
    assert(Bench.isHot(idle.copy(stealPct = 3.5), cores))
    // boundary: exactly at the thresholds is NOT hot (strict >)
    assert(!Bench.isHot(idle.copy(extCores = cores / 4.0), cores))
    assert(!Bench.isHot(idle.copy(stealPct = 2.0), cores))
  }

  test("idle chunks emit degraded=false; one hot chunk degrades the run") {
    val (ok, okDeg) = Bench.loadFieldsJson(Seq(idle, idle, idle), cores, Some(0.1))
    assert(!okDeg && !ok.chunkLoad(0).hot)
    assert(ok.cores === cores && ok.stealPct === Some(0.1))
    val (hot, hotDeg) = Bench.loadFieldsJson(
      Seq(idle, idle.copy(extCores = 16.0), idle), cores, Some(0.1))
    assert(hotDeg, "a chunk with 16 external cores busy must degrade the run")
    assert(hot.chunkLoad.map(_.hot) === Seq(false, true, false))
    assert(hot.chunkLoad(1).extCores === 16.0)
  }

  test("load.retried keeps each thrown-away attempt's two sensors") {
    // a retried chunk publishes its KEPT attempt in chunk_load; the attempt
    // the retry threw away rides load.retried, keyed by its chunk's index,
    // so a reader can replay which sensor decided the retry
    val kept = Seq(idle, idle.copy(stealPct = 0.4), idle)
    val thrown = Seq(1 -> idle.copy(stealPct = 3.7, extCores = 0.3))
    val (load, deg) = Bench.loadFieldsJson(kept, cores, Some(0.5), thrown)
    assert(!deg, "the verdict reads the kept attempts only")
    val n = mapper.readTree(write(load))
    val r = n.get("retried")
    assert(r.isArray && r.size === 1)
    assert(r.get(0).get("chunk").asInt === 1)
    assert(r.get(0).get("steal_pct").asDouble === 3.7)
    assert(r.get(0).get("ext_cores").asDouble === 0.3)
    val replayed = Bench.ChunkLoad(r.get(0).get("steal_pct").asDouble,
      r.get(0).get("ext_cores").asDouble)
    assert(Bench.isHot(replayed, n.get("cores").asInt),
      "the recorded attempt must replay as hot under the predicate that retried it")
    // a run with no retry publishes an empty list, never an absent field
    val (none, _) = Bench.loadFieldsJson(kept, cores, None)
    assert(mapper.readTree(write(none)).get("retried").size === 0)
    // an unreadable run-level steal is left out, never printed as null
    assert(!mapper.readTree(write(none)).has("steal_pct"))
  }

  // ---- history-aware per-query plausibility ----------------------------

  /** A synthetic clean history line in the BENCH_HISTORY.jsonl format. */
  private def histLine(qs: Map[String, Double], degraded: Boolean = false,
      suspect: Boolean = false): String = {
    val qjson = qs.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    s"""{"metric":"total","value":1.0,"unit":"sec","degraded":$degraded,""" +
      s""""suspect":$suspect,"queries":$qjson,"sf":"/tmp/sf"}"""
  }

  // five idle entries shaped like the r10 history: two trivial one-scan
  // queries, one mid-cost, one heavy
  private val idleRun = Map(
    "q_hash_sample" -> 0.16, "q_compaction_summary" -> 0.15,
    "q_collocations" -> 0.40, "q_ann_ivfpq" -> 5.7)
  private val idleHistory = Seq.fill(5)(histLine(idleRun))

  test("the r10 scatter fires suspect_queries and the run-level flag") {
    val medians = Bench.historyMedians(idleHistory)
    assert(medians("q_hash_sample") === 0.16)
    // contaminated readings: unchanged queries at 2–9× their idle medians
    val contaminated = Seq(
      "q_hash_sample" -> 0.58, "q_compaction_summary" -> 0.62,
      "q_collocations" -> 3.63, "q_ann_ivfpq" -> 7.8)
    val (sus, runSuspect) = Bench.suspectVerdict(contaminated, medians)
    assert(sus.map(_._1).toSet === Set("q_hash_sample", "q_compaction_summary", "q_collocations"),
      s"the three >2x readings must flag (ivfpq at 1.4x must not): $sus")
    assert(runSuspect,
      "3 trivial-median queries co-inflating IS the contention signature")
    // each flagged query carries its 0.1-rounded inflation ratio so a
    // consumer can rank severity
    val ratios = sus.toMap
    assert(ratios("q_collocations") === 9.1, s"3.63/0.40 must read 9.1: $ratios")
    assert(ratios("q_hash_sample") === 3.6)
    assert(ratios("q_compaction_summary") === 4.1)
  }

  test("an idle run emits no suspects; one slow query never flags the run") {
    val medians = Bench.historyMedians(idleHistory)
    // idle repeat: everything within noise of its median
    val (none, ok) = Bench.suspectVerdict(idleRun.toSeq.map {
      case (k, v) => k -> v * 1.2 }, medians)
    assert(none.isEmpty && !ok)
    // ONE query 3x slower: listed (a consumer should look at it) but the
    // RUN is not suspect — a single outlier is as likely a real regression,
    // which the flag must never mask
    val (one, run1) = Bench.suspectVerdict(
      idleRun.updated("q_collocations", 1.3).toSeq, medians)
    assert(one.map(_._1) === Seq("q_collocations") && !run1)
    assert(one.head._2 === 3.3, "1.3/0.40 rounds to 3.3")
    // sub-100ms inflation on a trivial query is jitter, not contention,
    // even past the ratio (0.16 -> 0.25 is 1.56x of... under MinDelta)
    val (tiny, _) = Bench.suspectVerdict(
      Seq("q_hash_sample" -> 0.25), medians)
    assert(tiny.isEmpty, "delta under 0.1s must not flag")
    // failed timings (-1) never flag
    val (fail, _) = Bench.suspectVerdict(Seq("q_collocations" -> -1.0), medians)
    assert(fail.isEmpty)
  }

  test("moderate co-inflation flags one tier down; lone moderates never do") {
    // the 1.7x–2.0x window on >=0.4 s medians, gated on a co-inflation
    // quorum (a 1.8x reading on a 1.65 s key otherwise goes unflagged)
    val medians = Map("q_heavy" -> 1.65, "q_mid" -> 0.45, "q_other" -> 0.60,
      "q_tiny" -> 0.16, "q_cheap" -> 0.05)
    // three moderate (1.7x–2.0x) inflations on >=0.4 s medians co-inflate:
    // all three must flag even though none clears tier 1's 2.0x bar
    val (sus, runFlag) = Bench.suspectVerdict(Seq(
      "q_heavy" -> 3.0, "q_mid" -> 0.81, "q_other" -> 1.08), medians)
    assert(sus.map(_._1) === Seq("q_heavy", "q_mid", "q_other"),
      s"3 co-inflating moderates must all flag: $sus")
    assert(sus.toMap.apply("q_heavy") === 1.8)
    // ...but the RUN-level stamp counts tier-1 trivial flags only: tier 2
    // widens what gets retimed, never the documented >=3-trivials-past-2x
    // run signature (q_mid's 0.45 s median is trivial, yet its 1.8x tier-2
    // flag must not help stamp the run — a suspect entry is excluded from
    // the history baseline, so lowering that bar would make a genuine
    // shared-trunk 1.8x regression re-flag every run until the all-suspect
    // escape re-converged)
    assert(!runFlag, "tier-2-only flags must never stamp the run suspect")
    // only TWO moderates: below the quorum, neither flags (a pair of 1.8x
    // readings is not yet the contention signature)
    val (two, _) = Bench.suspectVerdict(Seq(
      "q_heavy" -> 3.0, "q_mid" -> 0.81), medians)
    assert(two.isEmpty, s"2 moderates are under the co-inflation quorum: $two")
    // a LONE moderate never flags — as likely a real regression
    val (one, flag1) = Bench.suspectVerdict(Seq("q_heavy" -> 3.0), medians)
    assert(one.isEmpty && !flag1)
    // tier-1 flags count toward the moderate quorum (a 2.5x on a >=0.4 s
    // median is a fortiori moderate): 2 moderates + 1 tier-1 = 3
    val (mixed, _) = Bench.suspectVerdict(Seq(
      "q_heavy" -> 3.0, "q_mid" -> 0.81, "q_other" -> 1.55), medians)
    assert(mixed.map(_._1) === Seq("q_heavy", "q_mid", "q_other"),
      s"tier-1 q_other at 2.6x must complete the quorum: $mixed")
    // ...and the combined list carries no duplicate for a query that
    // satisfies both tiers
    assert(mixed.map(_._1).distinct === mixed.map(_._1))
    // sub-0.4 s medians never enter tier 2 (that band belongs to the
    // trivial co-inflation rule, which needs the full 2.0x)
    val (tiny, _) = Bench.suspectVerdict(Seq(
      "q_tiny" -> 0.29, "q_cheap" -> 0.09, "q_mid" -> 0.81), medians)
    assert(tiny.isEmpty,
      s"1.8x on trivial medians must not flag via the moderate tier: $tiny")
    // tier 1 keeps flagging unconditionally regardless of any quorum
    val (t1, _) = Bench.suspectVerdict(Seq("q_heavy" -> 4.0), medians)
    assert(t1.map(_._1) === Seq("q_heavy"), "2.4x flags alone via tier 1")
  }

  test("retimeCleanVerdict is tri-state and demands evidence for every flag") {
    val medians = Map("q_a" -> 0.2, "q_b" -> 1.0, "q_m" -> 0.5)
    val flagged = Seq("q_a" -> 3.0, "q_b" -> 2.5)
    // nothing flagged: no adjudication ran -> None (null in the line)
    assert(Bench.retimeCleanVerdict(Nil, Nil, medians).isEmpty)
    // every retime back inside its band -> clean
    assert(Bench.retimeCleanVerdict(flagged,
      Seq("q_a" -> 0.22, "q_b" -> 1.1), medians) === Some(true))
    // one retime still tier-1 inflated -> not clean
    assert(Bench.retimeCleanVerdict(flagged,
      Seq("q_a" -> 0.22, "q_b" -> 2.6), medians) === Some(false))
    // a retime in the MODERATE band (1.7x–2.0x on a >=0.4 s median) is
    // still inflated — "clean" must mean "would re-flag under neither
    // tier", not merely "under 2x"
    assert(Bench.retimeCleanVerdict(Seq("q_m" -> 2.2),
      Seq("q_m" -> 0.9), medians) === Some(false))
    assert(Bench.retimeCleanVerdict(Seq("q_m" -> 2.2),
      Seq("q_m" -> 0.55), medians) === Some(true))
    // an errored retime (-1) is not evidence
    assert(Bench.retimeCleanVerdict(flagged,
      Seq("q_a" -> 0.22, "q_b" -> -1.0), medians) === Some(false))
    // a flagged query the RetimeCap dropped has no retime at all — absence
    // of evidence must never read as clean
    assert(Bench.retimeCleanVerdict(flagged,
      Seq("q_a" -> 0.22), medians) === Some(false))
  }

  test("contaminated and thin history never feeds the medians") {
    // degraded/suspect entries are skipped even when they are the tail
    val dirty = idleHistory ++ Seq(
      histLine(idleRun.map { case (k, v) => k -> v * 5 }, degraded = true),
      histLine(idleRun.map { case (k, v) => k -> v * 5 }, suspect = true),
      "not json at all {{{")
    assert(Bench.historyMedians(dirty)("q_hash_sample") === 0.16)
    // a query with fewer than MinSamples clean readings gets no verdict
    val thin = Seq.fill(2)(histLine(Map("q_new" -> 0.1)))
    assert(!Bench.historyMedians(thin).contains("q_new"))
    // failed (-1) history values never enter a median
    val withFail = Seq.fill(5)(histLine(Map("q_x" -> -1.0)))
    assert(!Bench.historyMedians(withFail).contains("q_x"))
    // the window keeps the LAST N clean entries: an old regression-era
    // median must not outvote five fresh entries
    val drifted = Seq.fill(10)(histLine(Map("q_y" -> 9.0))) ++
      Seq.fill(5)(histLine(Map("q_y" -> 1.0)))
    assert(Bench.historyMedians(drifted)("q_y") === 1.0)
    // a dev run appended at another scale factor must never feed the
    // medians that judge a driver sf0.1 capture (histLine stamps /tmp/sf)
    assert(Bench.historyMedians(idleHistory, sf = Some("/tmp/sf"))("q_hash_sample") === 0.16)
    assert(Bench.historyMedians(idleHistory, sf = Some("/root/testdata/sf0.1")).isEmpty)
    // a WHOLLY pre-sf history is grandfathered: excluding every unstamped
    // entry would mean no baseline at all
    val noSf = Seq.fill(5)("""{"degraded":false,"queries":{"q_old":2.0}}""")
    assert(Bench.historyMedians(noSf, sf = Some("/tmp/sf"))("q_old") === 2.0)
    // ...but the moment ANY entry is sf-stamped, unstamped entries count
    // as mismatches: "absent matches anything" would let legacy dev-scale
    // lines keep feeding the medians that judge an sf0.1 capture
    val mixed = noSf ++ Seq.fill(2)(histLine(Map("q_old" -> 9.0)))
    assert(Bench.historyMedians(mixed, sf = Some("/tmp/sf")) ===
      Map.empty[String, Double],
      "2 stamped samples are under MinSamples; the 5 unstamped must not fill in")
    val mixedEnough = noSf ++ Seq.fill(3)(histLine(Map("q_old" -> 9.0)))
    assert(Bench.historyMedians(mixedEnough, sf = Some("/tmp/sf"))("q_old") === 9.0,
      "stamped-only baseline once stamped entries exist")
    // the stamp-era test reads EVERY parsed line: a stamped-but-DEGRADED
    // entry proves the era began (it just cannot feed a median), so the
    // unstamped legacy lines are already out even though no stamped entry
    // is itself baseline-eligible
    val eraByDegraded = noSf ++
      Seq(histLine(Map("q_old" -> 9.0), degraded = true))
    assert(Bench.historyMedians(eraByDegraded, sf = Some("/tmp/sf")) ===
      Map.empty[String, Double],
      "a stamped degraded entry must end the grandfather era")
  }

  test("low-core-stamped entries never feed another config's medians or band (r18)") {
    def cpusLine(v: Double, cpus: Option[String]): String = {
      val stamp = cpus.fold("")(c => s""""cpus":"$c",""")
      s"""{"metric":"total","value":$v,"unit":"sec","degraded":false,""" +
        s""""suspect":false,"queries":{"q_a":$v},$stamp"sf":"/tmp/sf"}"""
    }
    // the r17_c8 shape: a zero-flag LOW-CORE driver run lands in the trail
    // with ~2x per-query readings — stamped, it must not feed the 32-core
    // medians, the band, or (via medians) the quick-key accept test
    val trail = Seq.fill(4)(cpusLine(0.5, Some("32"))) ++
      Seq(cpusLine(1.2, Some("8")))
    assert(Bench.historyMedians(trail, sf = Some("/tmp/sf"),
      cpus = Some("32"))("q_a") === 0.5)
    assert(Bench.cleanBandTotals(trail, sf = Some("/tmp/sf"),
      cpus = Some("32")) === Seq.fill(4)(0.5))
    // an entry with neither a cpus stamp nor load.cores reads as
    // Bench.UnstampedCpus (32): it feeds the 32-core baseline...
    val mixed = Seq.fill(3)(cpusLine(0.5, None)) ++
      Seq.fill(2)(cpusLine(0.7, Some("32"))) ++
      Seq(cpusLine(1.2, Some("8")))
    assert(Bench.historyMedians(mixed, sf = Some("/tmp/sf"),
      cpus = Some("32"))("q_a") === 0.5)
    assert(Bench.cleanBandTotals(mixed, sf = Some("/tmp/sf"),
      cpus = Some("32")) === Seq(0.5, 0.5, 0.5, 0.7, 0.7))
    // ...and an 8-core consumer sees only its own config: one sample,
    // under MinSamples, so no median at all rather than 32-core ones
    assert(Bench.historyMedians(mixed, sf = Some("/tmp/sf"),
      cpus = Some("8")) === Map.empty[String, Double])
    assert(Bench.cleanBandTotals(mixed, sf = Some("/tmp/sf"),
      cpus = Some("8")) === Seq(1.2))
  }

  test("an unstamped entry's load.cores stands in for its cpus stamp") {
    // 65 of the 66 r1-r18 entries predate the cpus stamp; treating them as
    // matching any core count judged a 4-core run against 32-core medians
    def line(v: Double, cpus: Option[String], cores: Option[Int]): String = {
      val stamp = cpus.fold("")(c => s""""cpus":"$c",""")
      val load = cores.fold("")(c => s""""load":{"cores":$c,"chunk_load":[]},""")
      s"""{"metric":"total","value":$v,"degraded":false,"suspect":false,""" +
        s""""queries":{"q_a":$v},$load$stamp"sf":"/tmp/sf"}"""
    }
    def node(l: String) = mapper.readTree(l)
    assert(Bench.entryCpus(node(line(1.0, Some("8"), Some(32)))) === "8",
      "the stamp wins over the host width")
    assert(Bench.entryCpus(node(line(1.0, None, Some(4)))) === "4")
    assert(Bench.entryCpus(node(line(1.0, None, None))) === Bench.UnstampedCpus)
    val trail = Seq.fill(3)(line(0.5, None, Some(32))) ++
      Seq.fill(3)(line(1.5, None, Some(4)))
    assert(Bench.historyMedians(trail, sf = Some("/tmp/sf"),
      cpus = Some("4"))("q_a") === 1.5)
    assert(Bench.historyMedians(trail, sf = Some("/tmp/sf"),
      cpus = Some("32"))("q_a") === 0.5)
    assert(Bench.cleanBandTotals(trail, sf = Some("/tmp/sf"),
      cpus = Some("4")) === Seq.fill(3)(1.5))
    // an entry carrying neither is a 32-core entry, never a 4-core one
    val legacy = Seq.fill(3)(line(0.7, None, None))
    assert(Bench.historyMedians(legacy, sf = Some("/tmp/sf"),
      cpus = Some("4")) === Map.empty[String, Double])
    assert(Bench.historyMedians(legacy, sf = Some("/tmp/sf"),
      cpus = Some("32"))("q_a") === 0.7)
    assert(Bench.cleanBandTotals(legacy, sf = Some("/tmp/sf"),
      cpus = Some("32")) === Seq.fill(3)(0.7))
  }

  test("a persistent shift escapes the suspect lock-in as the new normal") {
    // a real config/JVM change slows the trivial queries 3x FOR GOOD: the
    // first post-shift runs flag suspect against the old medians...
    val shifted = idleRun.map { case (k, v) => k -> v * 3 }
    val (sus0, run0) = Bench.suspectVerdict(shifted.toSeq,
      Bench.historyMedians(idleHistory))
    assert(run0, "the shift must flag against the pre-shift baseline")
    assert(sus0.nonEmpty)
    // ...but once the window's worth of consecutive suspect entries have
    // accumulated, THEY become the baseline — the next identical run is
    // clean again instead of suspect forever (degraded entries in between
    // are ignored, not baseline material)
    val lockedIn = idleHistory ++
      Seq(histLine(shifted, degraded = true)) ++
      Seq.fill(5)(histLine(shifted, suspect = true))
    val newNormal = Bench.historyMedians(lockedIn)
    assert(newNormal("q_collocations") === shifted("q_collocations"),
      s"the suspect window must have become the baseline: $newNormal")
    val (sus1, run1) = Bench.suspectVerdict(shifted.toSeq, newNormal)
    assert(sus1.isEmpty && !run1, "the new normal must judge itself clean")
    // a TRANSIENT contamination cannot trip the escape: one clean entry
    // inside the recent window keeps the clean-only baseline
    val transient = idleHistory ++
      Seq.fill(3)(histLine(shifted, suspect = true)) ++
      Seq(histLine(idleRun)) ++
      Seq(histLine(shifted, suspect = true))
    assert(Bench.historyMedians(transient)("q_collocations") === 0.40,
      "clean neighbors must keep the clean baseline")
  }

  // ---- phase sub-timings -----------------------------------------------

  test("Phases capture attributes eager stages and is a no-op outside one") {
    // outside a capture: timed is transparent
    assert(Phases.timed("x")(41 + 1) === 42)
    val (res, phases) = Phases.capture {
      Phases.timed("train")(Thread.sleep(5))
      Phases.timed("search")(Thread.sleep(5))
      Phases.timed("train")(Thread.sleep(5)) // re-entry accumulates
      "done"
    }
    assert(res === "done")
    assert(phases.map(_._1) === Seq("train", "search"), "first-recorded order")
    val m = phases.toMap
    assert(m("train") >= 0.010 && m("search") >= 0.005)
    // a capture must not leak to the next one
    assert(Phases.capture(7)._2.isEmpty)
  }

  test("GRAFT_BENCH_QUERIES subsets the run; an all-unknown list is a hard error") {
    // dev/e2e plumbing (BenchE2eSpec rides it): unknown names drop with a
    // warning; an unset/blank variable means the FULL sorted surface; a
    // NON-EMPTY list resolving to zero known names must THROW (a silent
    // fallback turns a typo'd subset run into a full run that overwrites
    // BENCH_FULL.json and appends real history)
    val all = SparkEntry.queries.keys.toSeq.sorted
    assert(Bench.benchQueryNames(None) === all)
    assert(Bench.benchQueryNames(Some("")) === all)
    assert(Bench.benchQueryNames(Some("   ")) === all)
    assertThrows[IllegalArgumentException] {
      Bench.benchQueryNames(Some("q_no_such,also_junk"))
    }
    assert(Bench.benchQueryNames(Some("q_count_rows, q_add_literal")) ===
      Seq("q_add_literal", "q_count_rows"), "trimmed, filtered, sorted")
    assert(Bench.benchQueryNames(Some("q_count_rows,q_bogus")) ===
      Seq("q_count_rows"), "unknown names drop silently")
    // duplicates collapse: a repeated name would be timed and counted
    // twice (inflating total, duplicating JSON keys, and double-feeding
    // the co-inflation quorum), and padding a partial list with repeats
    // must never reach full-surface size and defeat the subset guard
    assert(Bench.benchQueryNames(Some("q_count_rows,q_count_rows")) ===
      Seq("q_count_rows"), "duplicate names must collapse")
  }

  test("every PhasedQueries entry is a live graded key") {
    // the diagnostic-capture allowlist is maintained by hand; a renamed
    // query would otherwise silently stop shipping its phase split
    val live = SparkEntry.queries.keySet
    assert(Bench.PhasedQueries.subsetOf(live),
      s"stale PhasedQueries entries: ${Bench.PhasedQueries -- live}")
  }

  test("a failed chunk child leaves its keys at -1 with its error, never re-run in-process") {
    // chunks only run forked: the parent must survive to print the closing
    // line, so a child that cannot start, crashes, or under-reports yields
    // failed keys (counted in queries_failed), not a second in-parent run
    val names = Seq("q_a", "q_b")
    val wire = (ts: Seq[Bench.Timed]) => ChunkPrefix + write(ChunkReport(ts, 3.0))
    val unforkable = "chunk child not forkable: classpath not visible as plain files"
    val (dead, deadCpu, deadOk) = Bench.chunkTimings(names, Left(unforkable))
    assert(!deadOk && deadCpu === 0.0)
    assert(dead === names.map(Bench.Timed(_, -1.0, Some(unforkable))),
      "every key reads -1 with the child's error")
    assert(dead.count(_.err.isDefined) === names.size,
      "each lost key counts as failed")
    // a child that exited 0 but never reported q_b: the whole chunk fails,
    // its one reported timing is not half-trusted
    val (short, _, shortOk) = Bench.chunkTimings(names,
      Right(wire(Seq(Bench.Timed("q_a", 0.5, None)))))
    assert(!shortOk)
    assert(short.map(_.secs) === Seq(-1.0, -1.0))
    assert(short.forall(_.err.exists(_.contains("did not report every key"))), short)
    // a full report passes through untouched, CPU self-report included
    val full = names.map(Bench.Timed(_, 0.5, None))
    assert(Bench.chunkTimings(names, Right(wire(full))) === ((full, 3.0, true)))
  }

  // ---- streaming history -----------------------------------------------

  test("streaming records keep a snapshot AND an append-only history") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-hist")
    try {
      val l1 = """{"metric":"streaming_smoke","value":1.0,"suites":7,"failed":1}"""
      val l2 = """{"metric":"streaming_smoke","value":0.9,"suites":7,"failed":0}"""
      Bench.writeRecord(Bench.StreamingArtifact, l1, subset = false, dir.toString)
      Bench.writeRecord(Bench.StreamingArtifact, l2, subset = false, dir.toString)
      val snap = java.nio.file.Files.readString(dir.resolve("STREAMING.json"))
        .linesIterator.toSeq
      assert(snap === Seq(l2), "snapshot must hold exactly the latest line")
      val hist = java.nio.file.Files
        .readString(dir.resolve("STREAMING_HISTORY.jsonl")).linesIterator.toSeq
      assert(hist === Seq(l1, l2),
        "history must keep both runs — the red->green flip r10 could not see")
      hist.foreach { l =>
        val n = mapper.readTree(l)
        assert(n.get("metric").asText === "streaming_smoke")
        assert(n.get("suites").asInt === 7)
      }
      // the bench family goes through the same writer: snapshot replaced,
      // trail appended, and no publish temp file left behind
      Bench.writeRecord(Bench.BenchArtifact, l1, subset = false, dir.toString)
      Bench.writeRecord(Bench.BenchArtifact, l2, subset = false, dir.toString)
      assert(java.nio.file.Files.readString(dir.resolve("BENCH_FULL.json"))
        .linesIterator.toSeq === Seq(l2))
      assert(java.nio.file.Files.readString(dir.resolve("BENCH_HISTORY.jsonl"))
        .linesIterator.toSeq === Seq(l1, l2))
      val names = scala.jdk.CollectionConverters.IteratorHasAsScala(
        java.nio.file.Files.list(dir).iterator()).asScala
        .map(_.getFileName.toString).toSet
      assert(names === Set("STREAMING.json", "STREAMING_HISTORY.jsonl",
        "BENCH_FULL.json", "BENCH_HISTORY.jsonl"), s"stray files: $names")
      // an unwritable directory is reported, never thrown: the run that
      // produced the line must still print its closing sequence
      Bench.writeRecord(Bench.BenchArtifact, l1, subset = false,
        dir.resolve("missing").toString)
    } finally {
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    }
  }

  // ---- the tail-parseable closing sequence -----------------------------

  private val closingHeadline = """{"metric":"total_short","value":1.0,"sf":"/tmp/sf"}"""
  private val closingTotal = """{"metric":"total","value":1.0,"sf":"/tmp/sf"}"""
  private val closingSmoke = Seq("""{"metric":"streaming_smoke","failed":0}""")

  /** Everything `emitClosing` writes, in order. */
  private def emittedClosing(smokeLines: Seq[String]): Seq[String] = {
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    Bench.emitClosing(closingHeadline, closingTotal, smokeLines, got += _)
    got.toSeq
  }

  test("the closing stdout sequence ends on the compact total, after headline and smoke") {
    // a tail parser that sees a log prefix or a metric line pushed out of
    // its window reads nothing; main's closing order is therefore fixed:
    // smoke lines, then the total_short headline, then the compact total
    assert(emittedClosing(closingSmoke) ===
      closingSmoke ++ Seq(closingHeadline, closingTotal))
    assert(emittedClosing(Nil) === Seq(closingHeadline, closingTotal),
      "a skipped smoke still ends headline-then-total")
  }

  test("the compact closing total parses, is tail-sized, and keys metric=total") {
    val line = render(Compact, runRecord(wallSec = 612.3, suspect = true))
    val n = mapper.readTree(line)
    assert(n.get("partial") === null,
      "the FINAL closing line drops the partial stamp entirely — absent, not false")
    assert(n.get("metric").asText === "total",
      "the tail parser's most plausible key is the full record's own name")
    assert(n.get("value").asDouble === 148.553)
    assert(n.get("wall_sec").asDouble === 612.3)
    assert(n.get("queries_run").asInt === 144 && n.get("queries_skipped").asInt === 0)
    // the adjudication, the env verdict and the clean band ride the
    // tail-visible line itself, so it is self-contextualizing
    assert(n.get("suspect").asBoolean && n.get("retime_clean").asBoolean)
    assert(!n.get("retime_hot").asBoolean && !n.get("env_inflated").asBoolean)
    assert(n.get("band").get(0).asDouble === 97.2 && n.get("band").get(1).asDouble === 107.1)
    assert(n.get("streaming_failed").asInt === 0)
    assert(n.get("sf").asText === "/data/sf0.1")
    assert(n.get("queries") === null, "no per-query map — that is what keeps it compact")
    // the binding constraint: this line + sbt's ~90-char [success] trailer
    // must ALWAYS fit the driver's 2000-char stdout tail together
    assert(line.length < 600, s"closing total must stay tail-sized: ${line.length}")
    assert(line.startsWith("""{"metric":"total","value":"""),
      "prefix pinned — a tail parser may match on it")
    // an unflagged run, a skipped smoke and a bandless trail read null —
    // unknown, never a fake clean verdict
    val unknown = mapper.readTree(render(Compact, runRecord(retimeClean = None,
      retimeHot = None, envInflated = None, band = None, streamingFailed = None,
      streamingPrevFailed = None, streamingRegressed = None)))
    Seq("retime_clean", "retime_hot", "env_inflated", "band", "streaming_failed",
      "streaming_regressed").foreach(f => assert(unknown.get(f).isNull, f))
  }

  test("the closing total stays under the byte budget at worst-case widths") {
    // the line must fit the consumer's 2000-char window TOGETHER with sbt's
    // [success] trailer and any stderr burst sharing the pipe: every
    // numeric field at its widest plausible rendering, every tri-state and
    // streaming field non-null
    val line = render(Provisional, runRecord(value = 8640000.123456789, partial = true,
      wallSec = 8640000.1, degraded = true, suspect = true,
      retimeClean = Some(false), band = Some((8640000.1, 8640000.9)),
      queriesRun = 999999, queriesFailed = 999999, queriesSkipped = 999999,
      sf = "/very/long/testdata/path/that/should/never/happen/sf0.0000001",
      streamingFailed = Some(999999), streamingPrevFailed = Some(999999)))
    assert(mapper.readTree(line).get("metric").asText === "total")
    assert(line.length < 700,
      s"worst-case closing total must stay under the 700-byte budget: ${line.length}")
  }

  test("emitClosing writes the closing sequence and nothing else, ending on the total") {
    // main's last statement is emitClosing, and the whole tail it writes
    // is: the smoke's record line, ONE total_short headline, then the
    // compact total as the ABSOLUTE last program output (a tail parser
    // keys on it; anything printed after it breaks the parse)
    val got = emittedClosing(closingSmoke)
    assert(got.size === closingSmoke.size + 2, s"stray writes: $got")
    assert(got.count(_.startsWith("""{"metric":"total_short",""")) === 1,
      "total_short prints once")
    assert(got.last === closingTotal, "the compact total must be the final write")
    assert(emittedClosing(Nil).last === closingTotal)
  }

  test("retimed re-readings ride the headline as an additive map") {
    // a suspect capture re-times JUST the flagged queries once and
    // publishes the re-readings beside suspect_ratios — the original
    // value/queries stay untouched (additive evidence, never a do-over)
    val n = mapper.readTree(render(Headline, runRecord(value = 148.5, suspect = true,
      retimed = ListMap("q_hybrid_rrf" -> 2.31, "q_hopping_window" -> 0.38, "q_broken" -> -1.0))))
    assert(n.get("retimed").get("q_hybrid_rrf").asDouble === 2.31)
    assert(n.get("retimed").get("q_hopping_window").asDouble === 0.38)
    assert(n.get("retimed").get("q_broken").asDouble === -1.0,
      "a failed retime must read as a failure, not vanish")
    assert(n.get("value").asDouble === 148.5,
      "the published total stays the original capture's")
    assert(mapper.readTree(render(Headline, runRecord(retimed = ListMap.empty)))
      .get("retimed").size === 0)
    // the pass is cost-bounded, worst-ratio-first: a fully-saturated box
    // flagging most of the surface must not double the run
    val many = (1 to 40).map(i => (f"q_$i%02d", i / 10.0 + 2.0))
    val targets = Bench.retimeTargets(many)
    assert(targets.size === Bench.RetimeCap)
    assert(targets.head === "q_40", "worst inflation retimes first")
    assert(!targets.contains("q_01"), "the mildest inflation is what drops")
    assert(Bench.retimeTargets(Seq("q_b" -> 3.0, "q_a" -> 3.0)) ===
      Seq("q_a", "q_b"), "equal ratios tiebreak by name for determinism")
  }

  test("suspect_ratios and streaming fields ride a parseable headline") {
    val smokeNow  = entry("""{"metric":"streaming_smoke","value":30.5,"suites":7,"failed":1}""")
    val smokePrev = Seq("""{"metric":"streaming_smoke","value":29.9,"suites":7,"failed":0}""")
    val (cur, prev, regressed) = Bench.streamingRegression(smokeNow, smokePrev)
    val line = render(Headline, runRecord(suspect = true,
      suspectRatios = ListMap("q_a" -> 5.2, "q_b" -> 2.4), streamingFailed = cur,
      streamingPrevFailed = prev, streamingRegressed = regressed))
    // streaming fields ride at the END: the byte prefix stays the
    // historical {"metric":"total_short","value":… shape
    assert(line.startsWith("""{"metric":"total_short","value":"""))
    val n = mapper.readTree(line)
    assert(n.get("streaming_failed").asInt === 1)
    assert(n.get("streaming_prev_failed").asInt === 0)
    assert(n.get("streaming_regressed").asBoolean === true,
      "0 -> 1 failed between captures IS the red flap the field exists for")
    assert(n.get("suspect_ratios").get("q_a").asDouble === 5.2)
    assert(n.get("suspect_queries").get(0).asText === "q_a")
  }

  test("streaming regression reads unknown — not clean — when a side is missing") {
    val greenL = """{"metric":"streaming_smoke","failed":0}"""
    val redL   = """{"metric":"streaming_smoke","failed":2}"""
    val skipL  = """{"metric":"streaming_smoke","skipped":true,"reason":"timeout"}"""
    def verdict(cur: String, prev: Seq[String]) =
      Bench.streamingRegression(entry(cur), prev)
    assert(verdict(greenL, Seq(greenL)) === ((Some(0), Some(0), Some(false))))
    // recovering (red -> green) is not a regression; going red IS one
    assert(verdict(greenL, Seq(redL))._3 === Some(false))
    assert(verdict(redL, Seq(greenL))._3 === Some(true))
    // no prior entry / skipped smoke / unparseable sides: unknown, never false
    assert(verdict(greenL, Nil)._3 === None)
    assert(Bench.streamingRegression(None, Seq(greenL)) === ((None, Some(0), None)))
    assert(verdict("not json", Seq(greenL))._3 === None)
    // a current-side skip record (no `failed` field) must not read as failed=0
    assert(verdict(skipL, Seq(greenL)) === ((None, Some(0), None)))
    // the PREVIOUS baseline scans back past skip/timeout records to the
    // last entry that actually reported
    assert(verdict(redL, Seq(redL, greenL, skipL)) === ((Some(2), Some(0), Some(true))),
      "baseline must be the last REPORTING entry, not the skip record")
    assert(verdict(greenL, Seq(skipL, skipL))._3 === None)
  }

  test("HistoryReport adjudicates the latest entry against the prior clean baseline") {
    // the report must reuse the LIVE median logic (read-before-append:
    // the latest entry judges against everything before it) and sort worst
    // inflation first — the table a round review builds by hand
    val hist = idleHistory :+ histLine(idleRun ++ Map(
      "q_collocations" -> 1.2, "q_hash_sample" -> 0.17))
    val rep = graft.tools.HistoryReport.report(hist)
    assert(rep.contains("x 3.00"), s"collocations at 3x its 0.40 median must lead: $rep")
    val worstBlock = rep.split("worst first")(1)
    assert(worstBlock.linesIterator.toSeq(1).startsWith("q_collocations"),
      "worst inflation must sort first")
    assert(rep.contains("suspect=false"))
    // degenerate inputs answer text, never throw
    assert(graft.tools.HistoryReport.report(Nil).nonEmpty)
    assert(graft.tools.HistoryReport.report(Seq("{not json")).nonEmpty)
    assert(graft.tools.HistoryReport.report(
      Seq("""{"metric":"total","value":1.0}""")).contains("no queries map"))
  }

  test("HistoryReport never lets the adjudicated entry feed its own baseline") {
    // with a truncated (unparseable) final append, the adjudicated entry is
    // the PREVIOUS line, and it must not sit inside its own baseline.
    // Pin via the min-samples rule: 2 clean entries + the adjudicated one
    // + trailing garbage. Self-inclusion hands every query a 3rd sample —
    // enough to mint a (self-fed) median and print a verdict row; the fix
    // leaves 2 clean samples, below SuspectMinSamples, so the adjudicated
    // entry must come back UNJUDGED, never self-judged.
    val short = Seq.fill(2)(histLine(idleRun)) ++
      Seq(histLine(idleRun ++ Map("q_collocations" -> 1.2)), "{truncated garb")
    val rep = graft.tools.HistoryReport.report(short)
    assert(!rep.contains("x 3.00"),
      s"a verdict row here can only come from a self-fed median: $rep")
    assert(rep.contains("no clean baseline yet"),
      s"thin history must read 'unjudged', not judge itself: $rep")
  }

  test("HistoryReport prints the tree's clean band in its header") {
    // min-max of non-suspect, non-degraded, same-sf totals, contaminated
    // and other-sf entries excluded
    def line(v: Double, degraded: Boolean = false, suspect: Boolean = false,
        sf: String = "/tmp/sf") =
      s"""{"metric":"total","value":$v,"unit":"sec","degraded":$degraded,""" +
        s""""suspect":$suspect,"queries":{"q_x":0.1},"sf":"$sf"}"""
    val rep = graft.tools.HistoryReport.report(Seq(
      line(97.2), line(105.9),
      line(150.0, degraded = true), line(140.0, suspect = true),
      line(50.0, sf = "/other/sf"),
      line(100.0)))
    assert(rep.contains("clean band (sf=/tmp/sf, last 3 clean): 97.2-105.9 s"),
      s"band must be min-max over the 3 clean same-sf totals: $rep")
    // the band is WINDOWED to the 10 most recent clean entries: a pre-flag
    // contaminated total from an ancient tree must not stretch it forever
    // (the live trail's unwindowed band read 89-248 s off one such entry)
    val old = Seq(line(247.5)) ++ (1 to 10).map(_ => line(100.0))
    val windowed = graft.tools.HistoryReport.report(old :+ line(99.0))
    assert(windowed.contains("last 10 clean): 99.0-100.0 s"),
      s"the 247.5 s entry is outside the 10-entry window: $windowed")
    // a trail with no clean same-sf entry says so instead of a fake band
    val dirty = graft.tools.HistoryReport.report(
      Seq(line(150.0, degraded = true)))
    assert(dirty.contains("no clean entries"), dirty)
  }

  test("HistoryReport judges at the latest entry's core count, like the bench") {
    // the bench filters its medians and band by core count; a report that
    // did not would disagree with the flags the bench emitted whenever a
    // low-core scaling run sits in the trail
    def line(v: Double, qa: Double, cpus: String) =
      s"""{"metric":"total","value":$v,"unit":"sec","degraded":false,""" +
        s""""suspect":false,"queries":{"q_a":$qa},"cpus":"$cpus","sf":"/tmp/sf"}"""
    // a 32-core trail with ONE clean-stamped, inflated 8-core entry
    val trail = Seq(line(100.0, 0.4, "32"), line(100.0, 0.6, "32"),
      line(200.0, 2.0, "8"), line(100.0, 0.5, "32"), line(100.0, 1.0, "32"))
    val rep = graft.tools.HistoryReport.report(trail)
    assert(rep.contains("clean band (sf=/tmp/sf, last 4 clean): 100.0-100.0 s"),
      s"the 8-core 200 s total must not stretch the band: $rep")
    assert(rep.contains("med    0.50 s  x 2.00"),
      s"q_a must be judged against the 32-core median only: $rep")
    assert(Bench.historyMedians(trail.init, sf = Some("/tmp/sf"),
      cpus = Some("32"))("q_a") === 0.5, "the bench's own median agrees")
  }

  test("HistoryReport surfaces retimed re-readings beside the flagged timing") {
    val latest = s"""{"metric":"total","value":9.9,"unit":"sec","suspect":true,""" +
      s""""queries":{"q_collocations":1.2,"q_hash_sample":0.16},""" +
      s""""retimed":{"q_collocations":0.41},"sf":"/tmp/sf"}"""
    val rep = graft.tools.HistoryReport.report(idleHistory :+ latest)
    assert(rep.contains("retimed   0.41 s"),
      s"the adjudication must read off the row, no reach into history: $rep")
    // the run trail surfaces the tri-state when an entry carries it (r14)
    // and stays silent when it does not (pre-r14 entries have no field)
    val adjudicated = latest.replace(""""suspect":true""",
      """"suspect":true,"retime_clean":false,"retime_hot":true""")
    val rep2 = graft.tools.HistoryReport.report(idleHistory :+ adjudicated)
    assert(rep2.contains("retime_clean=false  retime_hot=true"), rep2)
    assert(!rep.contains("retime_clean"), "absent field must not print")
  }

  test("HistoryReport shows the flagged query's own steal window") {
    // burst contention (r15): a 2-second 100% steal burst inside a
    // 3-minute chunk averages ~1% — under every chunk threshold — yet
    // makes a 0.4 s query read 18x; the per-query steal window is the
    // evidence, shown beside the inflated row
    val latest = s"""{"metric":"total","value":9.9,"unit":"sec","suspect":true,""" +
      s""""queries":{"q_collocations":3.6,"q_hash_sample":0.16},""" +
      s""""query_steal":{"q_collocations":23.4,"q_hash_sample":0.4},""" +
      s""""sf":"/tmp/sf"}"""
    val rep = graft.tools.HistoryReport.report(idleHistory :+ latest)
    assert(rep.contains("steal 23.4%"),
      s"material steal in the query's own window must read off the row: $rep")
    assert(!rep.contains("steal 0.4%"),
      "sub-1% steal is noise, not evidence — stays silent")
  }

  // ---- invisible-contention sensors + env adjudication -----------------

  test("the clean band is shared, windowed, and excludes self-stamped entries") {
    def line(v: Double, extra: String = "") =
      s"""{"metric":"total","value":$v,"degraded":false,"suspect":false$extra,""" +
        s""""queries":{"q_x":0.1},"sf":"/tmp/sf"}"""
    val totals = Bench.cleanBandTotals(Seq(line(97.2), line(105.9),
      line(276.3, extra = ""","env_inflated":true"""),
      line(100.0)), sf = Some("/tmp/sf"))
    assert(totals === Seq(97.2, 105.9, 100.0),
      "env-stamped entries must not stretch the band they anchor")
    assert(Bench.bandJson(totals) === "[97.2,105.9]")
    assert(Bench.bandJson(Nil) === "null")
    // the 10-entry window drops ancient outliers
    val many = (1 to 12).map(i => line(100.0 + i))
    assert(Bench.cleanBandTotals(many, sf = Some("/tmp/sf")).size === 10)
  }

  test("smoke baselines read reporting entries only") {
    val rep = (v: Double) =>
      s"""{"metric":"streaming_smoke","value":$v,"suites":7,"failed":0}"""
    val skip = """{"metric":"streaming_smoke","skipped":true,"reason":"timeout"}"""
    def smokeSec(l: String) = entry(l).flatMap(_.smokeSec)
    assert(smokeSec(rep(27.5)) === Some(27.5))
    assert(smokeSec(skip) === None, "a skip record must never read as a 0-second sample")
    assert(smokeSec("not json") === None)
    assert(Bench.smokeBaseline(Seq(rep(27.46), rep(26.4), skip, rep(29.0))) ===
      Some(27.46), "median of the last reporting values; skips don't count")
    assert(Bench.smokeBaseline(Seq(rep(27.0), rep(28.0))) === None,
      "below MinSamples -> no baseline")
    // the window keeps the LAST N reporting entries
    val drifted = Seq.fill(10)(rep(99.0)) ++ Seq.fill(5)(rep(27.0))
    assert(Bench.smokeBaseline(drifted) === Some(27.0))
  }

  test("envInflatedVerdict stamps the r14 capture true from the tail alone") {
    // the r14 replay: smoke history 26-29 s,
    // this capture's smoke 105.16 s — the artifact must stamp env_inflated
    // true even though every load sensor read idle
    val smokeHist = Seq(27.46, 26.4, 29.0).map(v =>
      s"""{"metric":"streaming_smoke","value":$v,"suites":7,"failed":0}""")
    val verdict = Bench.envInflatedVerdict(
      smokeSec = entry("""{"metric":"streaming_smoke","value":105.16,"suites":7,"failed":0}""")
        .flatMap(_.smokeSec),
      smokeBase = Bench.smokeBaseline(smokeHist))
    assert(verdict === Some(true),
      "the 3.8x fixed-workload smoke IS the contention evidence r14 lacked")
    // a clean capture reads explicit false
    assert(Bench.envInflatedVerdict(Some(27.9),
      Bench.smokeBaseline(smokeHist)) === Some(false))
    // under the ratio or under the absolute floor: not inflated
    assert(Bench.envInflatedVerdict(Some(38.0),
      Bench.smokeBaseline(smokeHist)) === Some(false), "1.38x is under 1.5x")
    assert(Bench.envInflatedVerdict(Some(31.0), Some(29.0)) === Some(false),
      "a 2 s delta is under the 3 s floor")
    // no evidence at all: unknown, never a fake clean
    assert(Bench.envInflatedVerdict(None, None) === None)
    assert(Bench.envInflatedVerdict(None, Bench.smokeBaseline(smokeHist)) === None,
      "a skipped smoke is not evidence")
    assert(Bench.envInflatedVerdict(Some(105.16), None) === None,
      "a smoke value with no baseline is not evidence")
  }

  test("a run-level tier-1 suspect stamp admits lone moderates to the retime set") {
    // >=3 trivial tier-1 flags already adjudicate the
    // capture as contention — a lone 1.7-2.0x moderate in the same window
    // must get its retime without needing a moderate-only quorum
    val medians = Map("q_t1" -> 0.16, "q_t2" -> 0.15, "q_t3" -> 0.2,
      "q_heavy" -> 1.65)
    val (sus, runFlag) = Bench.suspectVerdict(Seq(
      "q_t1" -> 0.58, "q_t2" -> 0.62, "q_t3" -> 0.75, "q_heavy" -> 3.0),
      medians)
    assert(runFlag, "3 trivial tier-1 flags stamp the run")
    assert(sus.map(_._1).contains("q_heavy"),
      s"the 1.8x moderate must flag beside a confirmed-hot run: $sus")
    // without the run-level stamp the lone moderate still never flags
    val (lone, loneFlag) = Bench.suspectVerdict(Seq("q_heavy" -> 3.0), medians)
    assert(lone.isEmpty && !loneFlag)
    // and a confirmed-hot run with NO moderate readings adds nothing
    val (noMod, _) = Bench.suspectVerdict(Seq(
      "q_t1" -> 0.58, "q_t2" -> 0.62, "q_t3" -> 0.75, "q_heavy" -> 1.9),
      medians)
    assert(!noMod.map(_._1).contains("q_heavy"),
      "1.15x on the moderate key is not inflated; the stamp must not invent flags")
  }

  test("subset streaming records divert to the side file (ADVICE r14 #2)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-subset")
    try {
      val official = """{"metric":"streaming_smoke","value":27.0,"failed":0}"""
      Bench.writeRecord(Bench.StreamingArtifact, official, subset = false, dir.toString)
      val sub = """{"metric":"streaming_smoke","value":3.0,"failed":0}"""
      Bench.writeRecord(Bench.StreamingArtifact, sub, subset = true, dir.toString)
      assert(java.nio.file.Files.readString(dir.resolve("STREAMING_SUBSET.json"))
        .linesIterator.toSeq === Seq(sub))
      assert(java.nio.file.Files.readString(dir.resolve("STREAMING.json"))
        .linesIterator.toSeq === Seq(official),
        "a subset smoke must never overwrite the official snapshot")
      assert(java.nio.file.Files.readString(dir.resolve("STREAMING_HISTORY.jsonl"))
        .linesIterator.toSeq === Seq(official),
        "a subset smoke must never append to the official trail " +
          "(it would feed smokeBaseline and the round review)")
      // a subset bench line likewise lands only in its side file
      Bench.writeRecord(Bench.BenchArtifact, sub, subset = true, dir.toString)
      assert(java.nio.file.Files.readString(dir.resolve("BENCH_SUBSET.json"))
        .linesIterator.toSeq === Seq(sub))
      assert(!java.nio.file.Files.exists(dir.resolve("BENCH_FULL.json")) &&
        !java.nio.file.Files.exists(dir.resolve("BENCH_HISTORY.jsonl")),
        "a subset bench line must never touch the official pair")
    } finally {
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    }
  }

  test("HistoryReport applies the decision table to the latest entry") {
    def entry(extra: String) =
      s"""{"metric":"total","value":100.0,"unit":"sec","degraded":false,""" +
        s"""$extra"queries":{"q_x":0.1},"sf":"/tmp/sf"}"""
    def verdictOf(latest: String): String =
      graft.tools.HistoryReport.report(idleHistory :+ latest)
        .linesIterator.find(_.startsWith("latest adjudication:")).getOrElse("")
    assert(verdictOf(entry(""""suspect":false,"""))
      .contains("clean (nothing flagged)"))
    assert(verdictOf(entry(""""suspect":true,"retime_clean":true,"retime_hot":false,"""))
      .contains("flags ambient"))
    assert(verdictOf(entry(
      """"suspect":true,"retime_clean":false,"retime_hot":false,"env_inflated":true,"""))
      .contains("environmental -- fixed workloads confirm"))
    assert(verdictOf(entry(""""suspect":true,"retime_clean":false,"retime_hot":true,"""))
      .contains("environmental-leaning"))
    assert(verdictOf(entry(
      """"suspect":true,"retime_clean":false,"retime_hot":false,"env_inflated":false,"""))
      .contains("REAL-REGRESSION CANDIDATE"))
    assert(verdictOf(entry(""""suspect":true,"retime_clean":false,"retime_hot":false,"""))
      .contains("unadjudicable"))
    // a pre-r14 suspect entry carries no adjudication fields at all
    assert(verdictOf(entry(""""suspect":true,"""))
      .contains("pre-adjudication"))
    // an unflagged run whose fixed workloads still read inflated (possible:
    // thin per-query medians, rich probe/smoke baselines) must warn
    assert(verdictOf(entry(""""suspect":false,"env_inflated":true,"""))
      .contains("treat the total with caution"))
  }

  // ---- internal deadline + degrade ladder + quick keys -----------------

  test("the deadline and chunk-size knobs parse defensively") {
    // r15 died at the driver's wall cap with nothing emitted; the internal
    // budget must never itself be a new way to emit nothing — junk or
    // non-positive values fall back to the default, they never zero the run
    assert(Bench.benchDeadlineSec(None) === Bench.DefaultDeadlineSec)
    assert(Bench.benchDeadlineSec(Some("900")) === 900.0)
    assert(Bench.benchDeadlineSec(Some(" 450.5 ")) === 450.5)
    assert(Bench.benchDeadlineSec(Some("junk")) === Bench.DefaultDeadlineSec)
    assert(Bench.benchDeadlineSec(Some("0")) === Bench.DefaultDeadlineSec)
    assert(Bench.benchDeadlineSec(Some("-5")) === Bench.DefaultDeadlineSec)
    // non-finite values parse (toDoubleOption accepts "Infinity", and
    // "1e400" overflows to it) but would render as the bare token
    // `Infinity` in budgetFields — invalid JSON on the lines whose
    // parseability is the whole contract
    assert(Bench.benchDeadlineSec(Some("Infinity")) === Bench.DefaultDeadlineSec)
    assert(Bench.benchDeadlineSec(Some("1e400")) === Bench.DefaultDeadlineSec)
    assert(Bench.benchDeadlineSec(Some("NaN")) === Bench.DefaultDeadlineSec)
    // the chunk-size override is dev/e2e plumbing with the same discipline
    assert(Bench.chunkSizeFromEnv(None) === 29)
    assert(Bench.chunkSizeFromEnv(Some("2")) === 2)
    assert(Bench.chunkSizeFromEnv(Some("junk")) === 29)
    assert(Bench.chunkSizeFromEnv(Some("0")) === 29)
  }

  test("the degrade ladder trips on projected pace, never on chunk 0") {
    // 3 of 8 chunks took 300 s (100 s/chunk): 5 remaining project to 500 s
    assert(Bench.ladderNeeded(done = 3, total = 8, elapsedSec = 300, remainingSec = 400),
      "500 s projected into a 400 s budget must degrade")
    assert(!Bench.ladderNeeded(done = 3, total = 8, elapsedSec = 300, remainingSec = 600),
      "500 s projected into a 600 s budget fits — no degrade")
    // chunk 0 has no measured pace: the ladder can never pre-degrade a run
    assert(!Bench.ladderNeeded(done = 0, total = 8, elapsedSec = 0, remainingSec = 1))
    // nothing left to protect
    assert(!Bench.ladderNeeded(done = 8, total = 8, elapsedSec = 900, remainingSec = 0))
  }

  test("quick keys come from clean-history medians under the 1 s bar") {
    val medians = Map("q_cheap" -> 0.2, "q_edge" -> 0.99, "q_heavy" -> 1.5,
      "q_at_bar" -> 1.0)
    assert(Bench.quickKeys(
      Seq("q_cheap", "q_edge", "q_heavy", "q_at_bar", "q_new"), medians) ===
      Map("q_cheap" -> 0.2, "q_edge" -> 0.99),
      "sub-1 s medians are quick (median carried for the child's accept " +
        "test); >=1 s and history-less keys keep median-of-3")
    // a first run (no medians) times EVERYTHING at repeats=3
    assert(Bench.quickKeys(Seq("q_a", "q_b"), Map.empty) ===
      Map.empty[String, Double])
  }

  test("the adaptive-quick accept test and its argv round-trip (r17)") {
    // one reading publishes alone only when it
    // lands inside 1.3x median + 0.05 s of the key's own clean median — a
    // steal burst (the 18x q_asof_join shape) can never accept, so the
    // min-of-2 fallback keeps the r16 burst defense at ~half the cost
    assert(Bench.quickAccept(reading = 0.2, median = 0.2))
    assert(Bench.quickAccept(reading = 0.31, median = 0.2),
      "1.3x 0.2 + 0.05 = 0.31 — the band edge accepts (<=)")
    assert(!Bench.quickAccept(reading = 0.32, median = 0.2))
    assert(Bench.quickAccept(reading = 0.1, median = 0.05),
      "the absolute slack dominates tiny medians — warm jitter on a 50 ms " +
        "key must not force the second reading")
    assert(!Bench.quickAccept(reading = 3.6, median = 0.2),
      "a burst reading is rejected and falls back to min-of-2")
    // the quick medians ride the chunk-fork argv inside the chunk request
    val req = ChunkRequest(Seq("q_a", "q_b", "q_c"), 3, phasesOn = true,
      Map("q_a" -> 0.2, "q_b" -> 0.05, "q_c" -> 1.0E-4))
    assert(read(write(req), classOf[ChunkRequest]) === Some(req),
      "the child must reconstruct exactly the parent's request")
    assert(read("junk", classOf[ChunkRequest]) === None)
  }

  test("rotatedChunks moves the deadline-skip burden across runs (r17)") {
    // in sorted order a deadline trip always starves the SAME
    // alphabetical tail, and every contended run would re-skip it
    val chunks = Seq(Seq("a", "b"), Seq("c", "d"), Seq("e", "f"))
    assert(Bench.rotatedChunks(chunks, 0) === chunks,
      "seed 0 (empty history) keeps the sorted order")
    assert(Bench.rotatedChunks(chunks, 1) ===
      Seq(Seq("c", "d"), Seq("e", "f"), Seq("a", "b")))
    assert(Bench.rotatedChunks(chunks, 3) === chunks, "rotation is mod size")
    assert(Bench.rotatedChunks(chunks, -1) ===
      Seq(Seq("e", "f"), Seq("a", "b"), Seq("c", "d")),
      "a negative seed still lands in range")
    // the adjudicated property: two consecutive deadline-hit runs (history
    // grows by one per completed run) skip DIFFERENT key sets when both
    // die after the same number of chunks
    def skippedAfter(seed: Int, chunksDone: Int): Set[String] =
      Bench.rotatedChunks(chunks, seed).drop(chunksDone).flatten.toSet
    assert(skippedAfter(seed = 5, chunksDone = 2) !==
      skippedAfter(seed = 6, chunksDone = 2),
      "consecutive contended runs must not starve the same tail")
    // within-chunk composition and order are untouched — warm-up
    // attribution stays comparable across runs
    assert(Bench.rotatedChunks(chunks, 2).flatten.toSet === chunks.flatten.toSet)
    assert(Bench.rotatedChunks(Seq(Seq("a")), 7) === Seq(Seq("a")))
    assert(Bench.rotatedChunks(Seq.empty[Seq[String]], 3) ===
      Seq.empty[Seq[String]])
  }

  test("a provisional closing line is stamped partial and parses as the same shape") {
    // after every chunk the bench prints the cumulative record stamped
    // partial:true — whatever instant the process dies, the stdout tail
    // holds a parseable best-available record, last-wins like every
    // metric line here
    val line = render(Provisional, runRecord(value = 42.5, partial = true, wallSec = 123.5,
      queriesRun = 40, retimeClean = None, retimeHot = None, envInflated = None))
    assert(line.startsWith("""{"metric":"total","value":"""),
      "the partial stamp must not disturb the pinned prefix")
    val n = mapper.readTree(line)
    assert(n.get("partial").asBoolean === true)
    assert(n.get("value").asDouble === 42.5 && n.get("queries_run").asInt === 40)
    assert(n.get("retime_clean").isNull && n.get("env_inflated").isNull,
      "mid-run adjudication is unknown, never a fake verdict")
    assert(line.length < 700, s"provisional lines share the byte budget: ${line.length}")
    // a deadline-tripped, ladder-degraded final record carries the skip
    // count (the skip NAMES ride the full line's `skipped` array)
    val c = mapper.readTree(render(Compact, runRecord(degraded = true, repeats = 1,
      queriesSkipped = 104)))
    assert(c.get("queries_skipped").asInt === 104)
    assert(c.get("repeats").asInt === 1, "a ladder-degraded run says so")
    assert(c.get("degraded").asBoolean === true,
      "a partial total must never read as baseline material")
  }

  test("cleanBandTotals matches sf exactly, including absence (ADVICE r15 #3)") {
    def line(v: Double, sfField: String) =
      s"""{"metric":"total","value":$v,"degraded":false,"suspect":false,""" +
        s""""queries":{"q_x":0.1}$sfField}"""
    val mixed = Seq(
      line(100.0, ""","sf":"/tmp/sf""""),
      line(50.0, ""","sf":"/other/sf""""),
      line(77.0, "")) // pre-stamp entry, no sf field at all
    assert(Bench.cleanBandTotals(mixed, sf = Some("/tmp/sf")) === Seq(100.0),
      "a stamped want excludes other-sf AND unstamped entries")
    assert(Bench.cleanBandTotals(mixed, sf = None) === Seq(77.0),
      "an sf-less caller (pre-stamp latest entry) must pool ONLY sf-less " +
        "entries — the old forall pooled all scales into one band")
  }

  test("cleanTrend adjudicates clean-total creep (VERDICT r15 next-step #4)") {
    // the r15 shape: five clean ~103 s captures, then three at ~119 s —
    // every one inside the widening min-max band, so nothing flagged; the
    // trend must call the drift by name
    val creeping = Seq(101.0, 103.0, 105.0, 102.0, 104.0, 118.0, 119.4, 121.0)
    val Some((recent, prior, creep)) = Bench.cleanTrend(creeping)
    assert(recent === 119.4 && prior === 103.0)
    assert(creep, "1.16x and +16 s past the prior median IS a creep")
    // flat history is stable
    val Some((_, _, flat)) = Bench.cleanTrend(Seq.fill(8)(103.0) :+ 104.0)
    assert(!flat)
    // small absolute drift never flags even past the ratio (tiny totals)
    val Some((_, _, tiny)) = Bench.cleanTrend(Seq.fill(5)(1.0) ++ Seq(2.0, 2.0, 2.0))
    assert(!tiny, "a 1 s delta is under the absolute floor")
    // thin history has no trend, only noise
    assert(Bench.cleanTrend(Seq(100.0, 119.0, 120.0, 121.0, 99.0)) === None)
    assert(Bench.cleanTrend(Nil) === None)
    // a recovery (recent BELOW prior) is stable, not creep
    val Some((_, _, rec)) = Bench.cleanTrend(
      Seq(119.0, 120.0, 121.0, 119.0, 120.0, 103.0, 102.0, 104.0))
    assert(!rec)
  }

  test("HistoryReport prints the clean trend beside the band") {
    def line(v: Double) =
      s"""{"metric":"total","value":$v,"unit":"sec","degraded":false,""" +
        s""""suspect":false,"queries":{"q_x":0.1},"sf":"/tmp/sf"}"""
    val creeping = Seq(101.0, 103.0, 105.0, 102.0, 104.0, 118.0, 119.4, 121.0)
    val rep = graft.tools.HistoryReport.report(creeping.map(line))
    assert(rep.contains("clean trend: last-3 median 119.4 s vs prior median 103.0 s"),
      s"the trend row must read off the header: $rep")
    assert(rep.contains("CREEPING"), rep)
    val stable = graft.tools.HistoryReport.report(
      (Seq.fill(8)(103.0) :+ 103.5).map(line))
    assert(stable.contains("-- stable"), stable)
    // a thin trail prints no trend row at all — never a fake verdict
    assert(!graft.tools.HistoryReport.report(Seq(line(100.0))).contains("clean trend"))
  }

  test("HistoryReport qualifies a regression verdict with per-query burst-steal evidence") {
    // the r16 contended capture's shape: retimes not clean (cap-dropped or
    // re-hit by the next burst), env sensors at speed (bursts land between
    // the ~0.1 s probes) — the tri-states alone read REAL-REGRESSION, but
    // the flagged rows' own steal windows carry the environmental evidence
    def entry(steal: String) =
      s"""{"metric":"total","value":155.0,"unit":"sec","degraded":true,""" +
        s""""suspect":true,"retime_clean":false,"retime_hot":false,""" +
        s""""env_inflated":false,""" +
        s""""suspect_queries":["q_a","q_b","q_c","q_d"],$steal""" +
        s""""queries":{"q_x":0.1},"sf":"/tmp/sf"}"""
    val withSteal = entry(
      """"query_steal":{"q_a":13.3,"q_b":8.3,"q_c":4.1,"q_d":0.4},""")
    val rep = graft.tools.HistoryReport.report(idleHistory :+ withSteal)
    assert(rep.contains("REAL-REGRESSION CANDIDATE"), rep)
    assert(rep.contains("BUT 3 of 4 flagged rows carry >=3% steal"),
      s"material steal on >=3 flagged rows must qualify the verdict: $rep")
    // without the steal evidence the plain verdict stands unqualified
    val noSteal = graft.tools.HistoryReport.report(idleHistory :+ entry(""))
    assert(noSteal.contains("REAL-REGRESSION CANDIDATE") && !noSteal.contains("BUT"),
      s"no steal evidence -> no qualifier: $noSteal")
    // sub-quorum steal (2 of 4 rows) stays unqualified — two noisy windows
    // among four flagged are not yet the burst signature
    val two = graft.tools.HistoryReport.report(idleHistory :+ entry(
      """"query_steal":{"q_a":13.3,"q_b":8.3},"""))
    assert(!two.contains("BUT"), two)
    // ...but ALL flagged rows steal-hit is the same evidence at small n:
    // the r16 clean capture's lone 2.1x flag read 4.1% steal in its only
    // window — 1 of 1 must qualify
    def lone(steal: String) =
      s"""{"metric":"total","value":99.6,"unit":"sec","degraded":false,""" +
        s""""suspect":false,"retime_clean":false,"retime_hot":false,""" +
        s""""env_inflated":false,"suspect_queries":["q_a"],$steal""" +
        s""""queries":{"q_x":0.1},"sf":"/tmp/sf"}"""
    val loneHit = graft.tools.HistoryReport.report(
      idleHistory :+ lone(""""query_steal":{"q_a":4.1},"""))
    assert(loneHit.contains("BUT 1 of 1 flagged rows"), loneHit)
    // a lone flag with a QUIET window keeps the unqualified verdict — that
    // one really is as likely a regression
    val loneQuiet = graft.tools.HistoryReport.report(idleHistory :+ lone(""))
    assert(loneQuiet.contains("REAL-REGRESSION CANDIDATE") &&
      !loneQuiet.contains("BUT"), loneQuiet)
  }

  test("HistoryReport surfaces wall_sec and deadline skip counts on the trail") {
    def entry(extra: String) =
      s"""{"metric":"total","value":96.8,"unit":"sec",""" +
        s""""suspect":false,$extra"queries":{"q_x":0.1},"sf":"/tmp/sf"}"""
    val rep = graft.tools.HistoryReport.report(idleHistory :+ entry(
      """"degraded":false,"wall_sec":683.1,"queries_skipped":0,"""))
    assert(rep.contains("wall=683s"), s"the wall column must read off the trail: $rep")
    assert(!rep.contains("SKIPPED"), "zero skips stay silent")
    val clipped = graft.tools.HistoryReport.report(idleHistory :+ entry(
      """"degraded":true,"wall_sec":905.0,"queries_skipped":104,"""))
    assert(clipped.contains("SKIPPED=104"),
      s"a deadline-clipped entry's small total must not read as a speedup: $clipped")
    // pre-r16 entries carry neither field and print neither column
    assert(!graft.tools.HistoryReport.report(idleHistory).contains("wall="))
  }

  test("HistoryReport names chunk-level degradation in the decision table (ADVICE r15 #2)") {
    // degraded:true with nothing query-level flagged used to print
    // "clean (nothing flagged)", contradicting the trail row above it
    def entry(extra: String) =
      s"""{"metric":"total","value":100.0,"unit":"sec",$extra""" +
        s""""queries":{"q_x":0.1},"sf":"/tmp/sf"}"""
    val rep = graft.tools.HistoryReport.report(
      idleHistory :+ entry(""""degraded":true,"suspect":false,"""))
    assert(rep.contains("latest adjudication: chunk-level contention flagged (degraded)"),
      s"a degraded-only entry must not read clean: $rep")
    // an undegraded, unflagged entry still reads clean
    assert(graft.tools.HistoryReport.report(
      idleHistory :+ entry(""""degraded":false,"suspect":false,"""))
      .contains("clean (nothing flagged)"))
    // suspect still outranks the degraded arm (pre-adjudication reading)
    assert(graft.tools.HistoryReport.report(
      idleHistory :+ entry(""""degraded":true,"suspect":true,"""))
      .contains("pre-adjudication"))
  }

  test("the emitted degraded flag rides a parseable full line") {
    val (load, degraded) =
      Bench.loadFieldsJson(Seq(idle.copy(stealPct = 4.0)), cores, None)
    val node = mapper.readTree(render(Full, runRecord(degraded = degraded, load = load)))
    assert(node.get("degraded").asBoolean === true)
    assert(node.get("load").get("chunk_load").get(0).get("steal_pct").asDouble === 4.0)
    assert(node.get("metric").asText === "total")
    assert(node.get("queries").get("q_a").asDouble === 1.2)
    assert(node.get("phases").get("q_a").get("train").asDouble === 0.5,
      "composite phase splits ride beside the scalar queries map")
  }

  test("envRatio is the median per-query inflation vs clean medians (VERDICT r17 #2)") {
    val medians = (1 to 30).map(i => s"q_$i" -> 1.0).toMap
    // 28 queries at exactly their median, one at 3x, one at 0.5x: the
    // median of the ratio distribution is 1.0 — a minority of moved
    // queries must not move the yardstick
    val timed = (1 to 28).map(i => s"q_$i" -> 1.0) ++
      Seq("q_29" -> 3.0, "q_30" -> 0.5)
    assert(Bench.envRatio(timed, medians) === Some(1.0))
    // a uniformly 17%-inflated window reads 1.17 — the documented
    // below-sensor contention class, now machine-readable
    val hot = (1 to 30).map(i => s"q_$i" -> 1.17)
    assert(Bench.envRatio(hot, medians) === Some(1.17))
    // failed timings (-1) and median-less queries never enter; below the
    // sample floor the verdict is null, never a guess
    val thin = (1 to 19).map(i => s"q_$i" -> 1.0) ++
      Seq("q_20" -> -1.0, "q_unknown" -> 1.0)
    assert(Bench.envRatio(thin, medians) === None)
    assert(Bench.envRatio((1 to 20).map(i => s"q_$i" -> 2.0), medians) === Some(2.0))
    // rounding: yardstick precision is 0.01
    val third = (1 to 20).map(i => s"q_$i" -> (1.0 / 3.0 + 1.0))
    assert(Bench.envRatio(third, medians) === Some(1.33))
  }

  test("HistoryReport prints env_ratio on trail rows that carry it") {
    val entry =
      """{"metric":"total","value":100.0,"degraded":false,"suspect":false,""" +
        """"env_ratio":1.17,"queries":{"q_a":1.0},"sf":"/tmp/sf"}"""
    val rep = graft.tools.HistoryReport.report(Seq(entry))
    assert(rep.contains("env_ratio=1.17"), rep)
    // entries predating the field print no column, never a fake 1.0
    val old =
      """{"metric":"total","value":100.0,"degraded":false,"suspect":false,""" +
        """"queries":{"q_a":1.0},"sf":"/tmp/sf"}"""
    assert(!graft.tools.HistoryReport.report(Seq(old)).contains("env_ratio"))
  }
}
