package graft

import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck properties for the chunk-fork wire format — the
  * `GRAFT_Q`/`GRAFT_PH`/`GRAFT_QS`/`GRAFT_CPU` lines [[Bench.childLines]]
  * emits and [[Bench.parseChunk]] reads back. This parse is load-bearing
  * for the bench's process isolation: a child report the parent cannot
  * read fails the whole chunk (every key −1, see [[Bench.chunkTimings]]),
  * so a formatting regression would fail EVERY chunk. The laws:
  * render→parse is identity over every reachable [[Bench.Timed]]; non-wire
  * noise on the stream is ignored; a missing or torn report yields None
  * (a failed chunk), never a partial chunk.
  */
object BenchWireProperties extends Properties("benchWire") {

  // ---- generators: the values Timed can actually reach ------------------

  /** Query-name shaped: `q_` + identifier (no spaces — map keys + wire). */
  private val nameGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(Gen.alphaLowerChar, Gen.const('_')))
      .map(cs => "q_" + cs.take(24).mkString)

  /** Error text as the catch site produces it: whitespace-collapsed to
    * single spaces, nonempty, ≤300 chars — but otherwise arbitrary
    * printable content including quotes, braces, and backslashes.
    */
  private val errGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.asciiPrintableChar).map(cs =>
      cs.take(300).mkString.replaceAll("\\s+", " ").trim)
      .suchThat(_.nonEmpty)

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

  private def render(ts: Seq[Bench.Timed], cpu: Double,
      noise: Seq[String] = Nil): String = {
    val wire = ts.flatMap(Bench.childLines) :+ s"GRAFT_CPU $cpu"
    // interleave noise deterministically after each wire line
    (if (noise.isEmpty) wire
     else wire.zipWithIndex.flatMap { case (l, i) =>
       Seq(l) ++ noise.lift(i % math.max(1, noise.size)).toSeq
     }).mkString("\n")
  }

  /** Spark startup spew / partial writes that share the child's stdout. */
  private val noiseGen: Gen[List[String]] = Gen.listOfN(4, Gen.oneOf(
    Gen.const("WARN Utils: Your hostname resolves to a loopback address"),
    Gen.const(""),
    Gen.const("GRAFT_"),            // torn prefix, not a wire line
    Gen.asciiPrintableStr.map(s => s.take(50).replace("GRAFT_Q ", ""))))

  // ---- the laws -----------------------------------------------------------

  property("render -> parse is identity over reachable Timed values") =
    Prop.forAll(chunkGen, Gen.chooseNum(0.0, 5000.0)) { (ts, cpu) =>
      Bench.parseChunk(render(ts, cpu), ts.map(_.name)) match {
        case Some((parsed, gotCpu)) => parsed == ts && gotCpu == cpu
        case None => false
      }
    }

  property("non-wire noise between lines never disturbs the parse") =
    Prop.forAll(chunkGen, noiseGen) { (ts, noise) =>
      val clean = Bench.parseChunk(render(ts, 1.0), ts.map(_.name))
      Bench.parseChunk(render(ts, 1.0, noise), ts.map(_.name)) == clean
    }

  property("a missing query yields None (fallback), never a partial chunk") =
    Prop.forAll(chunkGen.suchThat(_.nonEmpty)) { ts =>
      val out = render(ts.tail, 1.0) // first query never reported
      Bench.parseChunk(out, ts.map(_.name)).isEmpty
    }

  property("a torn numeric field yields None, never a throw") =
    Prop.forAll(chunkGen.suchThat(_.nonEmpty)) { ts =>
      val torn = render(ts, 1.0)
        .replaceFirst(s"GRAFT_Q ${ts.head.name} [^ \n]+", s"GRAFT_Q ${ts.head.name} not_a_number")
      Bench.parseChunk(torn, ts.map(_.name)).isEmpty
    }

  // ---- the closing-total wire format (VERDICT r15 next-step #2) ----------
  //
  // The provisional (partial:true) and final closing lines are what the
  // driver's tail parser reads after a kill at ANY instant — a render the
  // parser rejects resurrects parsed:null, the r15 outage. The law:
  // render → JSON-parse recovers every scalar field over the whole
  // reachable value space, the partial stamp appears exactly when set,
  // and every rendering stays inside the tail byte budget.

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private val triGen: Gen[Option[Boolean]] =
    Gen.oneOf(None, Some(true), Some(false))

  private val bandGen: Gen[String] = Gen.oneOf(
    Gen.const("null"),
    for (lo <- Gen.chooseNum(0.0, 9999.9); w <- Gen.chooseNum(0.0, 999.9))
      yield s"[${math.round(lo * 10) / 10.0},${math.round((lo + w) * 10) / 10.0}]")

  property("closing-total render -> parse recovers every field, partial stamp included") =
    Prop.forAll(
      Gen.chooseNum(0.0, 8640000.0), Gen.chooseNum(0.0, 8640000.0),
      Gen.zip(triGen, triGen, triGen), bandGen,
      Gen.zip(Gen.chooseNum(0, 999999), Gen.chooseNum(0, 999999), Gen.chooseNum(0, 999999)),
      Gen.zip(Gen.prob(0.5), Gen.prob(0.5), Gen.prob(0.5), Gen.oneOf(1, 3))) {
      case (total, wall, (rc, rh, env), band, (run, failed, skipped),
            (degraded, suspect, partial, repeats)) =>
        val line = Bench.closingTotalLine(total, degraded, suspect, rc, rh,
          env, band, run, failed, "/root/testdata/sf0.1",
          Bench.streamingRegression(None, Nil), wallSec = wall,
          skipped = skipped, repeats = repeats, partial = partial)
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
          (if (band == "null") n.get("band").isNull
           else n.get("band").isArray) &&
          line.length < 700 &&
          line.startsWith("""{"metric":"total","value":""")
    }
}
