package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The replay gate behind the two-sensor load adjudicator: every one of
  * the first 66 `BENCH_HISTORY.jsonl` entries (r1–r18) is re-judged from
  * the entry itself plus the history lines before it — exactly the inputs
  * the live bench had — and each verdict must equal what the seven-sensor
  * adjudicator of commit b05b7de decided on the same inputs. Those
  * decisions are frozen in `bench_replay_golden.jsonl` (test resources),
  * one line per entry: per-chunk `hot` (verdict site) and `retry_hot`
  * (retry site), `degraded`, `suspect`, `suspect_queries` with ratios,
  * `retime_clean` judged on the recorded `retimed`, `env_ratio`, `band`,
  * and `calib`, the run-level verdict of the removed calibration probes.
  *
  * Spark-free: only the bench's pure history readers and verdict
  * functions run. Lines past the 66th are later captures and never enter.
  */
class BenchReplaySpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val Entries = 66

  private lazy val history: Seq[String] = {
    val file = Iterator.iterate(new java.io.File(".").getCanonicalFile)(_.getParentFile)
      .takeWhile(_ != null).map(new java.io.File(_, "BENCH_HISTORY.jsonl"))
      .find(_.isFile).getOrElse(fail("BENCH_HISTORY.jsonl not found above the working directory"))
    java.nio.file.Files.readString(file.toPath).linesIterator.take(Entries).toSeq
  }

  private lazy val golden: Seq[JsonNode] = {
    val in = getClass.getResourceAsStream("/graft/bench_replay_golden.jsonl")
    assert(in != null, "bench_replay_golden.jsonl missing from test resources")
    try new String(in.readAllBytes(), "UTF-8").linesIterator.filter(_.nonEmpty)
      .map(l => mapper.readTree(l)).toSeq
    finally in.close()
  }

  private def pairs(o: JsonNode): Seq[(String, Double)] =
    if (o == null || !o.isObject) Nil
    else {
      val b = Seq.newBuilder[(String, Double)]
      o.properties().forEach(e => b += e.getKey -> e.getValue.asDouble(-1.0))
      b.result()
    }

  private def arr(o: JsonNode): Seq[JsonNode] =
    if (o == null || !o.isArray) Nil
    else { val b = Seq.newBuilder[JsonNode]; o.forEach(b += _); b.result() }

  private def tri(o: JsonNode): Option[Boolean] =
    Option(o).filterNot(_.isNull).map(_.asBoolean)

  /** One entry's verdicts from today's adjudicator, as (field, value)
    * pairs rendered the way the golden file stores them.
    */
  private def replay(i: Int): Seq[(String, Any)] = {
    val n = mapper.readTree(history(i))
    val prior = history.take(i)
    val sf = Option(n.get("sf")).map(_.asText())
    val cpus = Some(Bench.entryCpus(n))
    val load = Option(n.get("load"))
    val cores = load.flatMap(l => Option(l.get("cores"))).map(_.asInt).getOrElse(0)
    val chunks = arr(load.map(_.get("chunk_load")).orNull).map(c =>
      Bench.ChunkLoad(c.path("steal_pct").asDouble(0.0), c.path("ext_cores").asDouble(0.0)))
    def flag(f: String) = Option(n.get(f)).exists(_.asBoolean)
    val (_, loadDegraded) = Bench.loadFieldsJson(chunks, cores, None)
    val queries = pairs(n.get("queries"))
    val medians = Bench.historyMedians(prior, sf = sf, cpus = cpus)
    val (sus, suspect) = Bench.suspectVerdict(queries, medians)
    Seq(
      "hot" -> chunks.map(Bench.isHot(_, cores)),
      "degraded" -> (loadDegraded || flag("deadline_hit") || flag("ladder")),
      "suspect" -> suspect,
      "suspect_queries" -> sus,
      "retime_clean" -> Bench.retimeCleanVerdict(sus, pairs(n.get("retimed")), medians),
      "env_ratio" -> Bench.envRatio(queries, medians),
      "band" -> Bench.bandJson(Bench.cleanBandTotals(prior, sf = sf, cpus = cpus)))
  }

  /** The same fields as decided by the pre-simplification adjudicator. */
  private def recorded(g: JsonNode): Seq[(String, Any)] = {
    val chunks = arr(g.get("chunks"))
    Seq(
      "hot" -> chunks.map(_.get("hot").asBoolean),
      "degraded" -> g.get("degraded").asBoolean,
      "suspect" -> g.get("suspect").asBoolean,
      "suspect_queries" -> arr(g.get("suspect_queries"))
        .map(p => p.get(0).asText -> p.get(1).asDouble),
      "retime_clean" -> tri(g.get("retime_clean")),
      "env_ratio" -> Option(g.get("env_ratio")).filterNot(_.isNull).map(_.asDouble),
      "band" -> g.get("band").asText)
  }

  test("the replay covers all 66 history entries and their 406 chunk loads") {
    assert(history.size === Entries)
    assert(golden.size === Entries)
    assert(golden.map(_.get("entry").asInt) === (1 to Entries))
    assert(golden.map(g => arr(g.get("chunks")).size).sum === 406)
    // the history really exercised the verdicts under test
    assert(golden.count(g => arr(g.get("chunks")).exists(_.get("hot").asBoolean)) > 0)
    assert(golden.count(_.get("suspect").asBoolean) > 0)
    assert(golden.count(g => tri(g.get("retime_clean")).isDefined) > 0)
  }

  test("the two-sensor adjudicator reproduces every recorded verdict on all 66 entries") {
    val diffs = for {
      i <- 0 until Entries
      ((field, got), (_, want)) <- replay(i).zip(recorded(golden(i)))
      if got != want
    } yield s"entry ${i + 1} $field: got $got, golden $want"
    if (diffs.nonEmpty) fail(diffs.mkString("\n"))
  }

  test("a 4-core judgement ignores r1-r7, which read as 32-core entries") {
    val legacy = history.take(7)
    val nodes = legacy.map(l => mapper.readTree(l))
    assert(nodes.forall(n => n.get("cpus") == null && n.path("load").get("cores") == null),
      "r1-r7 carry neither a cpus stamp nor load.cores")
    assert(nodes.map(Bench.entryCpus).toSet === Set(Bench.UnstampedCpus))
    val sf = Some("/root/testdata/sf0.1")
    assert(Bench.historyMedians(legacy, sf = sf, cpus = Some("32")).nonEmpty)
    assert(Bench.cleanBandTotals(legacy, sf = sf, cpus = Some("32")).size === 7)
    // no 4-core entry is among the 66, so a 4-core run has no baseline
    assert(Bench.historyMedians(history, sf = sf, cpus = Some("4")).isEmpty)
    assert(Bench.cleanBandTotals(history, sf = sf, cpus = Some("4")).isEmpty)
  }

  test("the retry site and the verdict site agreed on every chunk") {
    // the golden records the old retry-site predicate (io/throttle
    // excluded) beside the verdict; one isHot now serves both sites
    val split = for {
      g <- golden
      c <- arr(g.get("chunks"))
      if c.get("hot").asBoolean != c.get("retry_hot").asBoolean
    } yield g.get("entry").asInt
    assert(split.isEmpty, s"entries whose retry and verdict predicates differed: $split")
  }

  test("the removed calibration verdict never read true, so env_inflated is unchanged") {
    // env_inflated was calib OR smoke; with calib never true on any entry,
    // the smoke-only verdict stamps every entry exactly as before
    val calib = golden.map(g => tri(g.get("calib")))
    assert(!calib.contains(Some(true)))
    assert(calib.count(_.contains(false)) > 0, "the calib verdict was live on part of the trail")
  }
}
