package graft

import org.scalacheck.{Gen, Prop, Properties}

import graft.BenchRecord._

/** ScalaCheck properties for the chunk-fork wire — the one
  * [[BenchRecord.ChunkPrefix]] report a chunk child prints and
  * [[Bench.parseChunk]] reads back. This parse is load-bearing for the
  * bench's process isolation: a child report the parent cannot read fails
  * the whole chunk (every key −1, see [[Bench.chunkTimings]]), so a
  * formatting regression would fail EVERY chunk. The laws: render→parse is
  * identity over every reachable [[Bench.Timed]], error text with any
  * control character included; non-wire noise on the stream is ignored; a
  * missing or torn report yields None (a failed chunk), never a partial
  * chunk.
  */
object BenchWireProperties extends Properties("benchWire") {

  // ---- generators: the values Timed can actually reach ------------------

  /** Query-name shaped: `q_` + identifier. */
  private val nameGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaLowerChar, Gen.const('_')))
      .map(cs => "q_" + cs.take(24).mkString)

  private val controls = (0 until 0x20).map(_.toChar).mkString

  /** Error text: every control character (an exception's ANSI colours,
    * stray tabs and line breaks) plus arbitrary printable content.
    */
  private val errGen: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.asciiPrintableChar, Gen.choose('\u0000', '\u001f')))
      .map(cs => controls + cs.take(300).mkString)

  private val phaseGen: Gen[(String, Double)] =
    for {
      n <- Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaLowerChar, Gen.const('_')))
      v <- Gen.chooseNum(0.0, 99.0)
    } yield (n.take(16).mkString, v)

  private val timedGen: Gen[Bench.Timed] =
    for {
      name   <- nameGen
      failed <- Gen.prob(0.2)
      secs   <- if (failed) Gen.const(-1.0) else Gen.chooseNum(0.001, 9999.0)
      err    <- if (failed) errGen.map(Some(_)) else Gen.const(None)
      phases <- Gen.listOfN(3, phaseGen).map(_.distinctBy(_._1))
        .flatMap(ph => Gen.oneOf(Seq.empty[(String, Double)], ph))
      steal  <- Gen.oneOf(Gen.const(0.0), Gen.chooseNum(0.1, 100.0))
    } yield Bench.Timed(name, secs, err, phases, steal)

  private val chunkGen: Gen[List[Bench.Timed]] =
    Gen.listOfN(6, timedGen).map(_.distinctBy(_.name))

  /** The child's stdout: its report line, with `noise` around it. */
  private def report(ts: Seq[Bench.Timed], cpu: Double,
      noise: Seq[String] = Nil): String =
    (noise.take(2) ++ Seq(ChunkPrefix + write(ChunkReport(ts, cpu))) ++ noise.drop(2))
      .mkString("\n")

  /** Spark startup spew / partial writes that share the child's stdout. */
  private val noiseGen: Gen[List[String]] = Gen.listOfN(4, Gen.oneOf(
    Gen.const("WARN Utils: Your hostname resolves to a loopback address"),
    Gen.const(""),
    Gen.const("GRAFT_CHUNK"),       // torn prefix, not a wire line
    Gen.asciiPrintableStr.map(s => s.take(50).replace(ChunkPrefix, ""))))

  // ---- the laws -----------------------------------------------------------

  property("render -> parse is identity over reachable Timed values") =
    Prop.forAll(chunkGen, Gen.chooseNum(0.0, 5000.0)) { (ts, cpu) =>
      Bench.parseChunk(report(ts, cpu), ts.map(_.name)) == Some((ts, cpu))
    }

  property("non-wire noise between lines never disturbs the parse") =
    Prop.forAll(chunkGen, noiseGen) { (ts, noise) =>
      val clean = Bench.parseChunk(report(ts, 1.0), ts.map(_.name))
      Bench.parseChunk(report(ts, 1.0, noise), ts.map(_.name)) == clean
    }

  property("a missing query yields None (fallback), never a partial chunk") =
    Prop.forAll(chunkGen.suchThat(_.nonEmpty)) { ts =>
      val out = report(ts.tail, 1.0) // first query never reported
      Bench.parseChunk(out, ts.map(_.name)).isEmpty
    }

  property("a torn numeric field yields None, never a throw") =
    Prop.forAll(chunkGen.suchThat(_.nonEmpty), Gen.chooseNum(1, 40)) { (ts, cut) =>
      val out = report(ts, 1.0)
      val torn = out.replaceFirst("\"secs\":[^,}]+", "\"secs\":not_a_number")
      Bench.parseChunk(torn, ts.map(_.name)).isEmpty &&
        Bench.parseChunk(out.dropRight(cut), ts.map(_.name)).isEmpty
    }

  // ---- the closing-total line ---------------------------------------------
  //
  // The provisional and final closing lines are what a tail parser reads
  // after a kill at ANY instant. The law: render → JSON-parse recovers
  // every scalar field over the whole reachable value space, the partial
  // stamp appears exactly when set, and every rendering stays inside the
  // tail byte budget.

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val triGen: Gen[Option[Boolean]] =
    Gen.oneOf(None, Some(true), Some(false))

  private val bandGen: Gen[Option[(Double, Double)]] = Gen.oneOf(
    Gen.const(None),
    for (lo <- Gen.chooseNum(0.0, 9999.9); w <- Gen.chooseNum(0.0, 999.9))
      yield Some((math.round(lo * 10) / 10.0, math.round((lo + w) * 10) / 10.0)))

  property("closing-total render -> parse recovers every field, partial stamp included") =
    Prop.forAll(
      Gen.chooseNum(0.0, 8640000.0), Gen.chooseNum(0.0, 8640000.0),
      Gen.zip(triGen, triGen, triGen), bandGen,
      Gen.zip(Gen.chooseNum(0, 999999), Gen.chooseNum(0, 999999), Gen.chooseNum(0, 999999)),
      Gen.zip(Gen.prob(0.5), Gen.prob(0.5), Gen.prob(0.5), Gen.oneOf(1, 3))) {
      case (total, wall, (rc, rh, env), band, (run, failed, skipped),
            (degraded, suspect, partial, repeats)) =>
        val r = BenchRecordSpec.runRecord(value = total, repeats = repeats,
          partial = partial, wallSec = math.round(wall * 10) / 10.0,
          degraded = degraded, suspect = suspect, retimeClean = rc,
          retimeHot = rh, envInflated = env, band = band, queriesRun = run,
          queriesFailed = failed, queriesSkipped = skipped,
          streamingFailed = None, streamingPrevFailed = None,
          streamingRegressed = None)
        val line = render(if (partial) Provisional else Compact, r)
        val n = mapper.readTree(line)
        def tri(f: String): Option[Boolean] =
          if (n.get(f).isNull) None else Some(n.get(f).asBoolean)
        n.get("metric").asText == "total" &&
          n.get("value").asDouble == total &&
          n.get("wall_sec").asDouble == math.round(wall * 10) / 10.0 &&
          n.get("degraded").asBoolean == degraded &&
          n.get("suspect").asBoolean == suspect &&
          tri("retime_clean") == rc && tri("retime_hot") == rh &&
          tri("env_inflated") == env &&
          n.get("queries_run").asInt == run &&
          n.get("queries_failed").asInt == failed &&
          n.get("queries_skipped").asInt == skipped &&
          n.get("repeats").asInt == repeats &&
          // the stamp appears exactly when set — the final line DROPS it
          (if (partial) n.get("partial").asBoolean else n.get("partial") == null) &&
          (band match {
            case None           => n.get("band").isNull
            case Some((lo, hi)) => n.get("band").get(0).asDouble == lo &&
              n.get("band").get(1).asDouble == hi
          }) &&
          line.length < 700 &&
          line.startsWith("""{"metric":"total","value":""")
    }
}
