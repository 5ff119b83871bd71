package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** End-to-end gate for the bench's self-healing machinery (VERDICT r13
  * next-step #4): the suspect→retime→closing-line path now FEEDS THE
  * DRIVER'S PARSED RECORD, but through r13 it was only ever validated live
  * with a hand-crafted history in a tmp `SPARK_GRAFT_REPO_DIR`. This spec
  * scripts that trick: a real forked `graft.Bench` run over a small
  * `GRAFT_BENCH_QUERIES` subset, against a synthetic history whose medians
  * are absurdly tiny (0.02 s) — so every query must flag, the retime pass
  * must fire, and the retimes (still far above the fake medians) must
  * adjudicate `retime_clean:false` — and the ABSOLUTE last stdout line
  * must be the compact `"metric":"total"` record, parseable, carrying the
  * adjudication tri-states.
  *
  * Env-gated like ScaleSmoke (`GRAFT_BENCH_E2E=1`): the run forks two JVM
  * generations (bench parent + its chunk child) and times real queries at
  * sf0.001, ~3–6 min — too heavy for every `sbt test`, cheap enough for a
  * per-round dev_verify. Canceled (not passed) when the flag is off.
  */
class BenchE2eSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val sfDir = "/root/testdata/sf0.001"

  /** Queries heavy enough at sf0.001 that each certainly reads well above
    * the 2×0.02 s + 0.1 s flag bar, cheap enough that one chunk + one
    * retime chunk stay a few minutes.
    */
  private val subset =
    Seq("q_dedup_minhash", "q_sessionize", "q_bm25_topk", "q_tfidf_terms")

  /** Fork `graft.Bench` the way its own chunk fork does (this JVM's flags
    * sans agents + classpath), stdout to a file (a pipe read-to-EOF would
    * block past any timeout on a hung child — the runStreamingSmoke rule),
    * stderr discarded. Shared by the three e2e scenarios.
    */
  private def forkBench(dir: java.nio.file.Path,
      extraEnv: Map[String, String]): (Process, java.nio.file.Path) = {
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val cmd = new java.util.ArrayList[String]()
    cmd.add(javaBin)
    java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .forEach(a => if (!a.startsWith("-agentlib")) { cmd.add(a); () })
    cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
    cmd.add("graft.Bench")
    val pb = new ProcessBuilder(cmd)
    pb.environment().put("SPARK_GRAFT_REPO_DIR", dir.toString)
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    pb.environment().put("SPARK_GRAFT_CPUS", "4")
    pb.environment().put("GRAFT_SKIP_STREAMING_SMOKE", "1")
    extraEnv.foreach { case (k, v) => pb.environment().put(k, v) }
    pb.redirectErrorStream(false)
    pb.redirectError(ProcessBuilder.Redirect.DISCARD) // Spark startup spew
    val outFile = java.nio.file.Files.createTempFile(dir, "bench-e2e", ".out")
    pb.redirectOutput(outFile.toFile)
    (pb.start(), outFile)
  }

  private def rmTree(dir: java.nio.file.Path): Unit =
    java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })

  /** Four cheap keys spanning two chunks under GRAFT_BENCH_CHUNK_SIZE=2
    * (sorted: add_literal+count_rows, then scan_project+semi_join) — each
    * chunk is one forked JVM (~15–30 s at sf0.001), so a 10 s deadline
    * always lands between chunk 0 and chunk 1.
    */
  private val cheapSubset =
    Seq("q_count_rows", "q_add_literal", "q_scan_project", "q_semi_join")

  test("a suspect run flags, retimes, and closes with a parseable adjudicated total (GRAFT_BENCH_E2E=1)") {
    assume(sys.env.get("GRAFT_BENCH_E2E").exists(v => v.nonEmpty && v != "0"),
      "set GRAFT_BENCH_E2E=1 to run the bench retime e2e")
    val dir = java.nio.file.Files.createTempDirectory("graft-bench-e2e")
    try {
      // 5 clean sf-stamped entries at 0.02 s per subset query: enough
      // samples (>= SuspectMinSamples) for every key, medians trivial
      // (< TrivialMedianSec) so >= 3 flags also stamp the run suspect.
      // Stamped cpus "4" to match the run's SPARK_GRAFT_CPUS below.
      val qjson = subset.map(q => s""""$q":0.02""").mkString("{", ",", "}")
      val hist = Seq.fill(5)(
        s"""{"metric":"total","value":1.0,"unit":"sec","degraded":false,""" +
          s""""suspect":false,"queries":$qjson,"cpus":"4",""" +
          s""""sf":"$sfDir"}""").mkString("", "\n", "\n")
      java.nio.file.Files.writeString(dir.resolve("BENCH_HISTORY.jsonl"), hist)

      // fork the bench exactly the way its own chunk fork does: this test
      // JVM's flags (sans agents) + classpath, graft.Bench main
      val javaBin = java.nio.file.Paths.get(
        System.getProperty("java.home"), "bin", "java").toString
      val cmd = new java.util.ArrayList[String]()
      cmd.add(javaBin)
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .forEach(a => if (!a.startsWith("-agentlib")) { cmd.add(a); () })
      cmd.add("-cp"); cmd.add(System.getProperty("java.class.path"))
      cmd.add("graft.Bench")
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_REPO_DIR", dir.toString)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.environment().put("SPARK_GRAFT_CPUS", "4")
      pb.environment().put("GRAFT_SKIP_STREAMING_SMOKE", "1")
      pb.environment().put("GRAFT_BENCH_QUERIES", subset.mkString(","))
      pb.redirectErrorStream(false)
      pb.redirectError(ProcessBuilder.Redirect.DISCARD) // Spark startup spew
      // child stdout goes to a FILE, not a pipe (the runStreamingSmoke
      // rule): reading a pipe to EOF blocks for as long as a hung child
      // holds stdout open, which would make the timeout below dead code
      val outFile = java.nio.file.Files.createTempFile(dir, "bench-e2e", ".out")
      pb.redirectOutput(outFile.toFile)
      val proc = pb.start()
      val finished = proc.waitFor(15, java.util.concurrent.TimeUnit.MINUTES)
      if (!finished) { proc.destroyForcibly(); proc.waitFor() }
      val out = java.nio.file.Files.readString(outFile)
      assert(finished, s"bench e2e run exceeded 15 minutes; tail:\n${out.takeRight(800)}")
      assert(proc.exitValue === 0, s"bench exited rc=${proc.exitValue}:\n$out")

      val lines = out.linesIterator.toSeq.filter(_.nonEmpty)
      // the driver's contract: the ABSOLUTE last stdout line is the
      // compact total, JSON-parseable with no log prefix
      val last = lines.last
      assert(last.startsWith("""{"metric":"total","value":"""),
        s"last line must be the compact closing total: $last")
      val n = mapper.readTree(last)
      assert(n.get("queries_run").asInt === subset.size)
      assert(n.get("queries_failed").asInt === 0, last)
      assert(n.get("suspect").asBoolean,
        s"tiny medians must stamp the run suspect: $last")
      // isBoolean guards BOTH asserts: NullNode.asBoolean is false, so
      // without them a regression to retime_clean:null would still pass
      assert(n.get("retime_clean").isBoolean && !n.get("retime_clean").asBoolean,
        s"retimes stay far above the fake 0.02 s medians -> explicit false: $last")
      assert(n.get("retime_hot").isBoolean,
        s"a fired retime pass must report its own load verdict: $last")
      // env_inflated is smoke-only, and this run skips the smoke
      assert(n.get("env_inflated").isNull,
        s"a skipped smoke leaves the env verdict unknown: $last")
      assert(n.get("band").isArray && n.get("band").get(0).asDouble === 1.0,
        s"the clean-history band must ride the closing line: $last")
      assert(last.length < 600, s"closing line over budget: ${last.length}")
      assert(lines.count(_.startsWith("""{"metric":"total_short",""")) === 1,
        s"the total_short headline prints once:\n$out")

      // a subset run persists its full line to the SIDE artifact only:
      // the graded snapshot must not be overwritten by a partial total and
      // the crafted history must not gain a clean-stamped partial entry
      // (which would starve the median window of every non-subset query)
      assert(!java.nio.file.Files.exists(dir.resolve("BENCH_FULL.json")),
        "a subset run must never write the graded BENCH_FULL.json")
      assert(java.nio.file.Files.readString(dir.resolve("BENCH_HISTORY.jsonl"))
        .linesIterator.size === 5,
        "a subset run must never append to BENCH_HISTORY.jsonl")
      val full = mapper.readTree(
        java.nio.file.Files.readString(dir.resolve("BENCH_SUBSET.json")))
      val flagged = {
        val b = Seq.newBuilder[String]
        full.get("suspect_queries").forEach(x => b += x.asText)
        b.result()
      }
      assert(flagged.size >= 3 && flagged.toSet.subsetOf(subset.toSet),
        s"expected >=3 of the subset flagged: $flagged")
      flagged.foreach { q =>
        val v = full.get("retimed").get(q)
        assert(v != null && v.asDouble >= 0,
          s"every flagged query must carry a non-failed retime: $q")
      }
      // per-query steal context (r15) rides the full line as an object —
      // sparse, so emptiness is legal on a quiet box; shape must hold
      assert(full.get("query_steal") != null && full.get("query_steal").isObject,
        "query_steal must ride the full line")
      // adjudication fields ride the full line too, matching the tail's
      // (isBoolean first: null===null would vacuously pass the comparison)
      assert(full.get("retime_clean").isBoolean)
      assert(full.get("retime_clean").asBoolean === n.get("retime_clean").asBoolean)
      assert(full.get("retime_hot").isBoolean)
    } finally {
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    }
  }

  test("a mid-run deadline skips the rest, records it, and still closes parseably (GRAFT_BENCH_E2E=1)") {
    assume(sys.env.get("GRAFT_BENCH_E2E").exists(v => v.nonEmpty && v != "0"),
      "set GRAFT_BENCH_E2E=1 to run the bench deadline e2e")
    // VERDICT r15 next-step #1: r15's driver capture died at an external
    // wall cap with NOTHING emitted. The internal budget must convert that
    // failure mode into: chunk 0 timed, chunk 1 skipped with visible skip
    // records, run stamped degraded+deadline_hit, closing total printed
    // and parseable as the absolute last line — with rc 0.
    val dir = java.nio.file.Files.createTempDirectory("graft-bench-deadline")
    try {
      val (proc, outFile) = forkBench(dir, Map(
        "GRAFT_BENCH_QUERIES" -> cheapSubset.mkString(","),
        "GRAFT_BENCH_CHUNK_SIZE" -> "2",
        "GRAFT_BENCH_DEADLINE_SEC" -> "10"))
      val finished = proc.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)
      if (!finished) { proc.destroyForcibly(); proc.waitFor() }
      val out = java.nio.file.Files.readString(outFile)
      assert(finished, s"deadline run exceeded 10 minutes; tail:\n${out.takeRight(800)}")
      assert(proc.exitValue === 0,
        s"a deadline trip is a degraded run, never a crash: rc=${proc.exitValue}\n$out")
      val last = out.linesIterator.toSeq.filter(_.nonEmpty).last
      assert(last.startsWith("""{"metric":"total","value":"""), last)
      val n = mapper.readTree(last)
      assert(n.get("partial") === null, "the final line drops the partial stamp")
      assert(n.get("queries_run").asInt === 2,
        s"chunk 0's two keys must have been timed: $last")
      assert(n.get("queries_skipped").asInt === 2,
        s"chunk 1's two keys must read as skipped, not vanish: $last")
      assert(n.get("degraded").asBoolean,
        s"a partial total must never read as baseline material: $last")
      // the full (side) artifact carries the skip NAMES and the budget story
      val full = mapper.readTree(
        java.nio.file.Files.readString(dir.resolve("BENCH_SUBSET.json")))
      assert(full.get("deadline_hit").asBoolean, "deadline_hit must ride the full line")
      assert(full.get("deadline_sec").asDouble === 10.0)
      val skipped = {
        val b = Seq.newBuilder[String]
        full.get("skipped").forEach(x => b += x.asText)
        b.result()
      }
      assert(skipped.toSet === Set("q_scan_project", "q_semi_join"),
        s"the un-run chunk's keys are the skip records: $skipped")
      assert(full.get("queries").get("q_scan_project") === null,
        "a skipped key must be absent from queries, never a fake 0/-1")
      assert(full.get("wall_sec").asDouble > 0.0)
      // wall attribution rides the full line: the chunk loop's share is
      // real, the (never-run) retime pass's is ~0
      assert(full.get("wall_chunks_sec").asDouble > 0.0)
      assert(full.get("wall_retime_sec").asDouble >= 0.0)
      // provisional closing lines preceded the final one (next-step #2):
      // at least chunk 0's cumulative record, stamped partial
      val partials = out.linesIterator.filter(_.contains(""""partial":true,""")).toSeq
      assert(partials.nonEmpty, "every chunk must be followed by a provisional record")
      assert(mapper.readTree(partials.head).get("queries_run").asInt === 2)
    } finally rmTree(dir)
  }

  test("a deadline-bound run still lands a REAL streaming smoke, run first (GRAFT_BENCH_E2E=1)") {
    assume(sys.env.get("GRAFT_BENCH_E2E").exists(v => v.nonEmpty && v != "0"),
      "set GRAFT_BENCH_E2E=1 to run the bench smoke-first e2e")
    // The smoke runs FIRST on every run (real record, failed=0), and the
    // chunks spend what is left of the 100 s budget. Whether they then all
    // fit is pace-dependent — the ladder's smoke-free pace numerator means
    // a fast box can finish every degraded chunk inside one-chunk
    // overshoot atomicity — so the assertions pin the OUTCOME INVARIANTS,
    // not one ending: every key accounted (timed or visible skip),
    // deadline_hit consistent with the skips, wall shares partitioning
    // wall_sec, and rc 0 with a parseable close.
    val dir = java.nio.file.Files.createTempDirectory("graft-bench-smoke-first")
    try {
      val (proc, outFile) = forkBench(dir, Map(
        "GRAFT_BENCH_QUERIES" -> subset.mkString(","),
        "GRAFT_BENCH_CHUNK_SIZE" -> "1",
        "GRAFT_BENCH_DEADLINE_SEC" -> "100",
        "GRAFT_SKIP_STREAMING_SMOKE" -> "0"))
      val finished = proc.waitFor(10, java.util.concurrent.TimeUnit.MINUTES)
      if (!finished) { proc.destroyForcibly(); proc.waitFor() }
      val out = java.nio.file.Files.readString(outFile)
      assert(finished, s"smoke-first run exceeded 10 minutes; tail:\n${out.takeRight(800)}")
      assert(proc.exitValue === 0, s"rc=${proc.exitValue}:\n${out.takeRight(800)}")
      val last = out.linesIterator.toSeq.filter(_.nonEmpty).last
      assert(last.startsWith("""{"metric":"total","value":"""), last)
      val n = mapper.readTree(last)
      // the round's streaming evidence survived the deadline: a REPORTING
      // record (numeric failed), not a skip, written by the bench parent
      val smoke = mapper.readTree(
        java.nio.file.Files.readString(dir.resolve("STREAMING_SUBSET.json")))
      assert(smoke.get("failed") != null && smoke.get("failed").isNumber,
        s"the smoke must yield a REAL record, not a skip: $smoke")
      assert(smoke.get("failed").asInt === 0, s"smoke suites must be green: $smoke")
      assert(n.get("streaming_failed").asInt === 0,
        s"the closing line must carry the smoke's verdict: $last")
      // the smoke ran before any chunk, so every provisional line already
      // carries its verdict
      val partials = out.linesIterator.filter(_.contains(""""partial":true,""")).toSeq
      assert(partials.nonEmpty && partials.forall(l =>
        mapper.readTree(l).get("streaming_failed").asInt == 0),
        s"provisional lines must carry the smoke's verdict: $partials")
      // every key accounted for — timed or a visible skip, never silent
      val full = mapper.readTree(
        java.nio.file.Files.readString(dir.resolve("BENCH_SUBSET.json")))
      val run = n.get("queries_run").asInt
      val skipped = n.get("queries_skipped").asInt
      assert(run + skipped === subset.size,
        s"every key must be timed or visibly skipped: $last")
      assert(run >= 1, s"at least one chunk must still have been timed: $last")
      // skips only ever ride a stamped deadline trip, and a trip that
      // skipped nothing is fine (the boundary landed after the last chunk)
      if (skipped >= 1)
        assert(full.get("deadline_hit").asBoolean,
          s"skip records require the deadline stamp: $full")
      assert(full.get("wall_smoke_sec").asDouble > 0.0,
        "the smoke's wall share is attributed on the full line")
      // the three wall shares must PARTITION wall_sec, never over-count it
      val shares = full.get("wall_chunks_sec").asDouble +
        full.get("wall_retime_sec").asDouble +
        full.get("wall_smoke_sec").asDouble
      assert(shares <= full.get("wall_sec").asDouble + 1.0,
        s"wall shares must never over-count wall_sec: $full")
    } finally rmTree(dir)
  }

  test("a kill between chunks leaves a parseable partial record in the tail (GRAFT_BENCH_E2E=1)") {
    assume(sys.env.get("GRAFT_BENCH_E2E").exists(v => v.nonEmpty && v != "0"),
      "set GRAFT_BENCH_E2E=1 to run the bench kill e2e")
    // VERDICT r15 next-step #2's second half: the internal deadline only
    // defends against a cap the bench can see — the driver's kill can
    // still land first. Whatever instant the process dies, the stdout
    // tail must already hold a parseable cumulative record. This scripts
    // the r15 outage: SIGKILL mid-run (during chunk 1), then parse the
    // tail the way the driver does.
    val dir = java.nio.file.Files.createTempDirectory("graft-bench-kill")
    try {
      val (proc, outFile) = forkBench(dir, Map(
        "GRAFT_BENCH_QUERIES" -> cheapSubset.mkString(","),
        "GRAFT_BENCH_CHUNK_SIZE" -> "2"))
      // poll for chunk 0's provisional record, then kill the whole tree
      // (the chunk-1 child JVM included) while chunk 1 is running
      val deadlineMs = System.currentTimeMillis() + 10 * 60 * 1000
      var seen = false
      while (!seen && proc.isAlive && System.currentTimeMillis() < deadlineMs) {
        Thread.sleep(1000)
        seen = try java.nio.file.Files.readString(outFile).contains(""""partial":true,""")
          catch { case _: Exception => false }
      }
      assert(seen, "no provisional record appeared within 10 minutes")
      // assume, not assert (ADVICE r16 #5): the 1 s poll has an inherent
      // race — if chunk 1 finishes inside the polling lag the run is
      // simply over, which proves nothing about the kill path either way;
      // cancel instead of failing a healthy protocol
      assume(proc.isAlive,
        "the run finished before the kill could land — nothing to kill; canceled")
      proc.descendants().forEach(d => { d.destroyForcibly(); () })
      proc.destroyForcibly(); proc.waitFor()
      val out = java.nio.file.Files.readString(outFile)
      // the driver's read: last "metric":"total" line in the tail
      val totals = out.linesIterator.toSeq
        .filter(_.startsWith("""{"metric":"total","value":"""))
      assert(totals.nonEmpty, s"tail carries no total record:\n${out.takeRight(800)}")
      val n = mapper.readTree(totals.last)
      assert(n.get("partial").asBoolean === true,
        s"the best-available record is chunk 0's provisional: ${totals.last}")
      assert(n.get("queries_run").asInt === 2, totals.last)
      assert(n.get("queries_failed").asInt === 0, totals.last)
      assert(n.get("value").asDouble > 0.0,
        "the cumulative partial total is real evidence, not a placeholder")
    } finally rmTree(dir)
  }
}
