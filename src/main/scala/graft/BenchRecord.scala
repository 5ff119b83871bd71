package graft

import scala.collection.immutable.ListMap
import scala.language.implicitConversions

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.core.{JsonFactoryBuilder, SerializableString}
import com.fasterxml.jackson.core.io.{CharacterEscapes, SerializedString}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The bench's record format, in one place: every line the bench prints or
  * appends, the chunk wire between the bench and its forked children, and
  * the history entries read back. Records are case classes; one Jackson
  * mapper writes them (camelCase fields as snake_case keys) and reads them
  * back. A printed line is a [[Shape]]: a `metric` name plus an ordered
  * subset of one record's keys, so every run-level line renders from the
  * same [[Run]] and differs only in which of its fields it carries.
  */
object BenchRecord {

  /** Control characters escape as `\n`, `\r`, `\t` or lowercase `\u00xx`;
    * a strict parser rejects raw ones (an ANSI ESC in exception text) and
    * would void the whole record.
    */
  private object Escapes extends CharacterEscapes {
    private val codes = CharacterEscapes.standardAsciiEscapesForJSON()
    (0 until 0x20).foreach(codes(_) = CharacterEscapes.ESCAPE_CUSTOM)
    def getEscapeCodesForAscii: Array[Int] = codes
    // null above 0x1f: Jackson also asks for every non-ASCII char
    def getEscapeSequence(ch: Int): SerializableString =
      if (ch >= 0x20) null
      else new SerializedString(ch match {
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c    => f"\\u$c%04x"
      })
  }

  private val mapper = new ObjectMapper(new JsonFactoryBuilder().characterEscapes(Escapes).build())
    .registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)

  /** Any record or value as compact JSON. */
  def write(v: Any): String = mapper.writeValueAsString(v)

  /** A JSON string literal (quotes included). */
  def jstr(s: String): String = write(s)

  /** The record a chunk wire line or argument carries; None unless it
    * parses as a whole.
    */
  def read[T](json: String, cls: Class[T]): Option[T] =
    try Option(mapper.readValue(json, cls)) catch { case _: Exception => None }

  // ---- line shapes ------------------------------------------------------

  final case class Shape(metric: String, keys: Seq[String])

  /** `render(shape, r)`: `{"metric":…}` followed by the shape's keys of `r`. */
  def render(shape: Shape, record: AnyRef): String = {
    val fields = mapper.valueToTree[ObjectNode](record)
    val out = mapper.createObjectNode().put("metric", shape.metric)
    shape.keys.foreach { k =>
      require(fields.has(k), s"${record.getClass.getSimpleName} has no field $k")
      out.set[JsonNode](k, fields.get(k))
    }
    write(out)
  }

  private val Common = Seq("value", "unit", "repeats", "wall_sec",
    "wall_chunks_sec", "wall_retime_sec", "wall_smoke_sec", "deadline_sec",
    "deadline_hit", "ladder", "quick_n", "skipped", "degraded", "suspect",
    "suspect_queries", "suspect_ratios", "retimed", "retime_clean",
    "retime_hot", "env_inflated", "env_ratio", "band", "chunks",
    "chunks_forked", "chunk_size", "chunks_retried")
  private val Counts = Seq("queries_run", "queries_failed", "queries_skipped")
  private val Streaming =
    Seq("streaming_failed", "streaming_prev_failed", "streaming_regressed")
  private val Verdicts = Seq("wall_sec", "degraded", "suspect", "retime_clean",
    "retime_hot", "env_inflated", "band") ++ Counts ++ Streaming :+ "sf"

  /** The whole record: stdout, `BENCH_FULL.json` and the history trail. */
  val Full = Shape("total", Common ++ Seq("quick_keys", "queries", "phases",
    "query_steal", "errors", "load", "cpus", "sf"))
  /** The headline; its streaming fields follow `sf`, so its byte prefix
    * stays the `{"metric":"total_short","value":…` a prefix parser expects.
    */
  val Headline = Shape("total_short", Common ++ Counts ++ Seq("load", "sf") ++ Streaming)
  /** The last line of every run: the scalar verdicts only, a few hundred
    * bytes, because the consumer keeps a 2000-char tail of the output and
    * keys on its final `"metric":"total"` line.
    */
  val Compact = Shape("total", Seq("value", "unit", "repeats") ++ Verdicts)
  /** The cumulative line printed after each chunk, superseded by the next. */
  val Provisional = Shape("total", Seq("value", "unit", "repeats", "partial") ++ Verdicts)
  val Slowest10 = Shape("slowest10", Seq("unit", "queries", "sf"))
  val Smoke = Shape("streaming_smoke",
    Seq("value", "unit", "suites", "assertions", "failed", "failures"))
  val SmokeSkipped = Shape("streaming_smoke", Seq("skipped", "reason"))

  // ---- records ------------------------------------------------------------

  /** A kept chunk attempt's load (`load.chunk_load[i]`). */
  final case class KeptLoad(stealPct: Double, extCores: Double, hot: Boolean)
  /** An attempt a retry threw away, keyed by its chunk's index in
    * `chunk_load`, so a reader can replay which sensor decided the retry.
    */
  final case class RetriedLoad(chunk: Int, stealPct: Double, extCores: Double)
  /** The `load` block; run-level `steal_pct` is absent when it could not be
    * read.
    */
  final case class Load(
      @JsonInclude(JsonInclude.Include.NON_ABSENT) stealPct: Option[Double],
      cores: Int, chunkLoad: Seq[KeptLoad], retried: Seq[RetriedLoad])

  /** Everything one run reports; `partial` stamps a provisional record. */
  final case class Run(value: Double, repeats: Int, partial: Boolean,
      wallSec: Double, wallChunksSec: Double, wallRetimeSec: Double,
      wallSmokeSec: Double, deadlineSec: Double, deadlineHit: Boolean,
      ladder: Boolean, quickN: Int, skipped: Seq[String], degraded: Boolean,
      suspect: Boolean, suspectQueries: Seq[String],
      suspectRatios: ListMap[String, Double], retimed: ListMap[String, Double],
      retimeClean: Option[Boolean], retimeHot: Option[Boolean],
      envInflated: Option[Boolean], envRatio: Option[Double],
      band: Option[(Double, Double)], chunks: Int, chunksForked: Int,
      chunkSize: Int, chunksRetried: Int, quickKeys: Seq[String],
      queries: ListMap[String, Double],
      phases: ListMap[String, ListMap[String, Double]],
      querySteal: ListMap[String, Double], errors: ListMap[String, String],
      load: Load, cpus: String, sf: String, queriesRun: Int,
      queriesFailed: Int, queriesSkipped: Int, streamingFailed: Option[Int],
      streamingPrevFailed: Option[Int], streamingRegressed: Option[Boolean]) {
    val unit = "sec"
  }

  /** The streaming smoke's health line. */
  final case class SmokeHealth(value: Double, suites: Int, assertions: Int,
      failed: Int, failures: ListMap[String, String]) {
    val unit = "sec"
  }
  /** The record standing in for a smoke that printed no health line. */
  final case class SmokeSkip(reason: String) { val skipped = true }

  /** The chunk wire. The parent passes the request as one argv element;
    * the child prints its report as one [[ChunkPrefix]] line.
    */
  final case class ChunkRequest(names: Seq[String], repeats: Int,
      phasesOn: Boolean, quick: Map[String, Double])
  final case class ChunkReport(timed: Seq[Bench.Timed], cpuSec: Double)
  val ChunkPrefix = "GRAFT_CHUNK "

  // ---- history entries ----------------------------------------------------

  /** One line of either trail, as the history readers see it. Fields read
    * leniently, as they always were: a flag is true only when it reads
    * true, a number of the wrong type is absent, a non-numeric timing
    * reads −1.
    */
  final case class Entry(sf: Option[String], cpus: String,
      value: Option[Double], degraded: Boolean, suspect: Boolean,
      envInflated: Option[Boolean], retimeClean: Option[Boolean],
      retimeHot: Option[Boolean], envRatio: Option[Double],
      wallSec: Option[Double], queriesSkipped: Option[Int],
      queries: Option[Seq[(String, Double)]], retimed: Map[String, Double],
      querySteal: Map[String, Double], suspectQueries: Seq[String],
      failed: Option[Int]) {
    /** A smoke's duration; None for skip records and junk. */
    def smokeSec: Option[Double] = failed.flatMap(_ => value)
  }

  def entry(line: String): Option[Entry] =
    try {
      val n = mapper.readTree(line)
      def num(f: String) = Option(n.get(f)).filter(_.isNumber)
      def tri(f: String) = Option(n.get(f)).filterNot(_.isNull).map(_.asBoolean)
      def pairs(f: String, missing: Double) =
        Option(n.get(f)).filter(_.isObject).map { o =>
          val b = Seq.newBuilder[(String, Double)]
          o.properties().forEach(e => b += e.getKey -> e.getValue.asDouble(missing))
          b.result()
        }
      val suspectQueries = Seq.newBuilder[String]
      Option(n.get("suspect_queries")).filter(_.isArray)
        .foreach(_.forEach(q => suspectQueries += q.asText))
      Some(Entry(Option(n.get("sf")).map(_.asText), Bench.entryCpus(n),
        num("value").map(_.asDouble), tri("degraded").contains(true),
        tri("suspect").contains(true), tri("env_inflated"),
        tri("retime_clean"), tri("retime_hot"),
        num("env_ratio").map(_.asDouble), num("wall_sec").map(_.asDouble),
        num("queries_skipped").map(_.asInt), pairs("queries", -1.0),
        pairs("retimed", -1.0).getOrElse(Nil).toMap,
        pairs("query_steal", 0.0).getOrElse(Nil).toMap,
        suspectQueries.result(), num("failed").map(_.asInt)))
    } catch { case _: Exception => None }

  /** A trail parsed once, oldest entry first; lines that are not JSON are
    * dropped.
    */
  final case class History(entries: Seq[Entry])
  object History {
    /** Raw lines (a file, a spec's fixture) convert where a History is due. */
    implicit def parse(lines: Seq[String]): History = History(lines.flatMap(entry))
  }
}
