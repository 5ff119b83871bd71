package graft

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.BenchRecord._

/** The bench's record format ([[BenchRecord]]): every line shape keeps its
  * key sequence, the compact closing line stays byte-identical to the
  * string renderer it replaced, and every string field survives any
  * character. Parsed with Jackson's strict default mapper, as a consumer
  * would. Spark-free.
  */
class BenchRecordSpec extends AnyFunSuite {
  import BenchRecordSpec.runRecord

  private val mapper = new ObjectMapper()

  private def keys(line: String): Seq[String] = {
    val b = Seq.newBuilder[String]
    mapper.readTree(line).fieldNames().forEachRemaining(b += _)
    b.result()
  }

  test("the compact closing line is byte-identical to the renderer it replaced") {
    // inputs and the line the string-assembled closingTotalLine printed for
    // them: final and partial lines, null tri-states, a null band, and an
    // sf path carrying every control character
    val in = getClass.getResourceAsStream("/graft/closing_total_golden.jsonl")
    val golden = try new String(in.readAllBytes(), "UTF-8").linesIterator
      .filter(_.nonEmpty).map(mapper.readTree).toSeq finally in.close()
    assert(golden.size === 6)
    golden.foreach { g =>
      val i = g.get("inputs")
      def tri(f: String) = Option(i.get(f)).filterNot(_.isNull).map(_.asBoolean)
      def smoke(f: String) = Option(i.get(f)).filterNot(_.isNull)
        .flatMap(n => entry(s"""{"metric":"streaming_smoke","failed":$n}"""))
      val totals = Seq.newBuilder[Double]
      i.get("band_totals").forEach(t => totals += t.asDouble)
      val (failed, prevFailed, regressed) =
        Bench.streamingRegression(smoke("smoke_failed"), History(smoke("smoke_prev_failed").toSeq))
      val r = runRecord(value = i.get("total").asDouble, repeats = i.get("repeats").asInt,
        partial = i.get("partial").asBoolean,
        wallSec = math.round(i.get("wall_sec").asDouble * 10) / 10.0,
        degraded = i.get("degraded").asBoolean, suspect = i.get("suspect").asBoolean,
        retimeClean = tri("retime_clean"), retimeHot = tri("retime_hot"),
        envInflated = tri("env_inflated"), band = Bench.band(totals.result()),
        queriesRun = i.get("run").asInt, queriesFailed = i.get("failed").asInt,
        queriesSkipped = i.get("skipped").asInt, sf = i.get("sf").asText,
        streamingFailed = failed, streamingPrevFailed = prevFailed,
        streamingRegressed = regressed)
      val shape = if (r.partial) Provisional else Compact
      assert(render(shape, r) === g.get("line").asText)
    }
  }

  test("every line shape keeps its key sequence") {
    val verdicts = Seq("wall_sec", "degraded", "suspect", "retime_clean",
      "retime_hot", "env_inflated", "band", "queries_run", "queries_failed",
      "queries_skipped", "streaming_failed", "streaming_prev_failed",
      "streaming_regressed", "sf")
    val common = Seq("metric", "value", "unit", "repeats", "wall_sec",
      "wall_chunks_sec", "wall_retime_sec", "wall_smoke_sec", "deadline_sec",
      "deadline_hit", "ladder", "quick_n", "skipped", "degraded", "suspect",
      "suspect_queries", "suspect_ratios", "retimed", "retime_clean",
      "retime_hot", "env_inflated", "env_ratio", "band", "chunks",
      "chunks_forked", "chunk_size", "chunks_retried")
    val r = runRecord()
    assert(keys(render(Full, r)) === common ++ Seq("quick_keys", "queries",
      "phases", "query_steal", "errors", "load", "cpus", "sf"))
    assert(keys(render(Headline, r)) === common ++ Seq("queries_run",
      "queries_failed", "queries_skipped", "load", "sf", "streaming_failed",
      "streaming_prev_failed", "streaming_regressed"))
    assert(keys(render(Compact, r)) === Seq("metric", "value", "unit", "repeats") ++ verdicts)
    assert(keys(render(Provisional, r)) ===
      Seq("metric", "value", "unit", "repeats", "partial") ++ verdicts)
    assert(keys(render(Slowest10, r)) === Seq("metric", "unit", "queries", "sf"))
    assert(keys(render(Smoke, SmokeHealth(27.5, 7, 21, 0, ListMap.empty))) ===
      Seq("metric", "value", "unit", "suites", "assertions", "failed", "failures"))
    assert(keys(render(SmokeSkipped, SmokeSkip("timeout"))) ===
      Seq("metric", "skipped", "reason"))
    val load = mapper.readTree(render(Full, r)).get("load")
    assert(keys(load.toString) === Seq("steal_pct", "cores", "chunk_load", "retried"))
    assert(keys(load.get("chunk_load").get(0).toString) === Seq("steal_pct", "ext_cores", "hot"))
    assert(keys(load.get("retried").get(0).toString) === Seq("chunk", "steal_pct", "ext_cores"))
  }

  test("every line shape round-trips a hostile sf path and error text") {
    // a path holding a quote or a backslash once wrote an unparseable full
    // line, which every history reader then silently dropped
    val hostile = "/tmp/sf\"q\\x/" + (0 until 0x20).map(_.toChar).mkString +
      "\u001b[31mboom\u001b[0m é☃ end"
    val r = runRecord(sf = hostile, errors = ListMap("q_a" -> hostile))
    for (shape <- Seq(Full, Headline, Compact, Provisional, Slowest10)) {
      val n = mapper.readTree(render(shape, r))
      assert(n.get("metric").asText === shape.metric)
      assert(n.get("sf").asText === hostile, s"${shape.metric} lost the sf path")
    }
    assert(mapper.readTree(render(Full, r)).get("errors").get("q_a").asText === hostile)
    val smoke = render(Smoke, SmokeHealth(1.0, 7, 20, 1, ListMap(hostile -> hostile)))
    assert(mapper.readTree(smoke).get("failures").get(hostile).asText === hostile)
    assert(mapper.readTree(render(SmokeSkipped, SmokeSkip(hostile))).get("reason").asText === hostile)
    // a run record is one line: JSON escapes every line break
    assert(!render(Full, r).exists(c => c == '\n' || c == '\r'))
  }

  test("history entries read the fields their readers consult, leniently") {
    val e = entry("""{"metric":"total","value":96.8,"degraded":"true","suspect":1,""" +
      """"env_inflated":null,"retime_clean":false,"queries":{"q_a":0.5,"q_b":"x"},""" +
      """"retimed":{"q_a":0.4},"query_steal":{"q_a":4.1},"suspect_queries":["q_a"],""" +
      """"load":{"cores":32},"sf":"/tmp/sf"}""").get
    assert(e.value === Some(96.8) && e.degraded && e.suspect)
    assert(e.envInflated === None && e.retimeClean === Some(false) && e.retimeHot === None)
    assert(e.queries === Some(Seq("q_a" -> 0.5, "q_b" -> -1.0)),
      "a non-numeric timing reads -1, which no median admits")
    assert(e.retimed === Map("q_a" -> 0.4) && e.querySteal === Map("q_a" -> 4.1))
    assert(e.suspectQueries === Seq("q_a") && e.cpus === Some("32") && e.sf === Some("/tmp/sf"))
    assert(e.smokeSec === None, "a bench entry carries no smoke duration")
    assert(entry("""{"metric":"streaming_smoke","value":27.5,"failed":0}""").get.smokeSec === Some(27.5))
    assert(entry("{truncated").isEmpty)
    assert(History.parse(Seq("{truncated", """{"value":1.0}""")).entries.size === 1)
  }
}

object BenchRecordSpec {
  /** A run record with every field set; name the ones a test varies. */
  def runRecord(value: Double = 148.553, repeats: Int = 3, partial: Boolean = false,
      wallSec: Double = 612.3, degraded: Boolean = false, suspect: Boolean = false,
      suspectRatios: ListMap[String, Double] = ListMap("q_a" -> 5.2),
      retimed: ListMap[String, Double] = ListMap("q_a" -> 0.41),
      retimeClean: Option[Boolean] = Some(true), retimeHot: Option[Boolean] = Some(false),
      envInflated: Option[Boolean] = Some(false),
      band: Option[(Double, Double)] = Some((97.2, 107.1)),
      queries: ListMap[String, Double] = ListMap("q_a" -> 1.2, "q_b" -> 0.3),
      errors: ListMap[String, String] = ListMap.empty,
      load: BenchRecord.Load = BenchRecord.Load(Some(0.5), 32,
        Seq(BenchRecord.KeptLoad(0.1, 0.2, hot = false)),
        Seq(BenchRecord.RetriedLoad(0, 3.7, 0.3))),
      sf: String = "/data/sf0.1", queriesRun: Int = 144,
      queriesFailed: Int = 0, queriesSkipped: Int = 0,
      streamingFailed: Option[Int] = Some(0), streamingPrevFailed: Option[Int] = Some(0),
      streamingRegressed: Option[Boolean] = Some(false)): BenchRecord.Run =
    BenchRecord.Run(value, repeats, partial, wallSec, 400.0, 20.0, 35.5, 1200.0,
      deadlineHit = false, ladder = false, quickN = 1, skipped = Nil,
      degraded = degraded, suspect = suspect,
      suspectQueries = suspectRatios.keys.toSeq, suspectRatios = suspectRatios,
      retimed = retimed, retimeClean = retimeClean, retimeHot = retimeHot,
      envInflated = envInflated, envRatio = Some(1.02), band = band, chunks = 5,
      chunksForked = 5, chunkSize = 29, chunksRetried = load.retried.size,
      quickKeys = Seq("q_b"), queries = queries,
      phases = ListMap("q_a" -> ListMap("train" -> 0.5)),
      querySteal = ListMap("q_a" -> 4.1), errors = errors, load = load,
      cpus = "32", sf = sf, queriesRun = queriesRun, queriesFailed = queriesFailed,
      queriesSkipped = queriesSkipped, streamingFailed = streamingFailed,
      streamingPrevFailed = streamingPrevFailed, streamingRegressed = streamingRegressed)
}
