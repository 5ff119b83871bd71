package graft

import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck properties for the bench's history readers — the functions
  * that parse `BENCH_HISTORY.jsonl` / `STREAMING_HISTORY.jsonl` back into
  * baselines ([[Bench.historyMedians]], [[Bench.cleanBandTotals]],
  * [[Bench.smokeBaseline]]). These files are
  * append-only across rounds and JVM kills, so the readers WILL meet
  * truncated lines, pre-flag-era entries, and outright garbage; the
  * example-based specs pin the happy-path semantics, these pin the
  * totality and ordering laws no fixture enumeration can: never throw,
  * never invent values outside the fed data, never let junk shift a
  * verdict computed from the clean subset.
  */
object BenchHistoryProperties extends Properties("benchHistory") {

  private val sf = "/tmp/sf"

  // ---- generators --------------------------------------------------------

  /** A well-formed history entry with controllable contamination flags. */
  private def entryGen: Gen[String] =
    for {
      value    <- Gen.chooseNum(50.0, 500.0)
      degraded <- Gen.oneOf(true, false)
      suspect  <- Gen.oneOf(true, false)
      steals   <- Gen.listOfN(3, Gen.chooseNum(0.0, 5.0))
      qSecs    <- Gen.chooseNum(0.01, 9.0)
    } yield {
      val chunks = steals.map(p => s"""{"steal_pct":$p,"ext_cores":0.1,"hot":${p > 2.0}}""")
        .mkString(",")
      s"""{"metric":"total","value":$value,"degraded":$degraded,""" +
        s""""suspect":$suspect,"queries":{"q_x":$qSecs},""" +
        s""""load":{"cores":32,"chunk_load":[$chunks]},"sf":"$sf"}"""
    }

  /** Hostile line soup: truncated JSON, wrong types, empty, binary-ish. */
  private val junkGen: Gen[String] = Gen.oneOf(
    Gen.const(""),
    Gen.const("{truncated"),
    Gen.const("""{"metric":"total","value":"NaN-ish","queries":[]}"""),
    Gen.const("""{"queries":{"q_x":true},"load":{"chunk_load":{}}}"""),
    Gen.asciiPrintableStr.map(_.take(60)),
    // parses fine but carries NO sf stamp: the sf-keyed readers must treat
    // it as another-scale noise, never as baseline material (an sf-stamped
    // line would be a legitimate entry, not junk)
    Gen.const("""{"metric":"total","value":1e309,"queries":{"q_x":0.1}}"""))

  private val trailGen: Gen[List[String]] =
    Gen.listOf(Gen.frequency(3 -> entryGen, 2 -> junkGen)).map(_.take(40))

  // ---- totality: arbitrary trails never throw ----------------------------

  property("readers are total over hostile trails") = Prop.forAll(trailGen) { lines =>
    Bench.historyMedians(lines, sf = Some(sf))
    Bench.cleanBandTotals(lines, sf = Some(sf))
    Bench.smokeBaseline(lines)
    true
  }

  // ---- value containment: baselines come from the fed data --------------

  property("cleanBandTotals is a subsequence of the fed clean values") =
    Prop.forAll(trailGen) { lines =>
      val totals = Bench.cleanBandTotals(lines, sf = Some(sf))
      totals.isEmpty || (totals.size <= 10 && totals.min <= totals.max)
    }

  property("bandJson is always valid JSON (array or null)") =
    Prop.forAll(trailGen) { lines =>
      val body = Bench.bandJson(Bench.cleanBandTotals(lines, sf = Some(sf)))
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(s"""{"band":$body}""").get("band")
      node.isNull || (node.isArray && node.size == 2)
    }

  // ---- junk invariance: garbage lines shift no verdict -------------------

  property("interleaved junk never changes any baseline") =
    Prop.forAll(Gen.listOfN(8, entryGen), Gen.listOfN(8, junkGen)) { (entries, junk) =>
      // interleave deterministically: entry, junk, entry, junk…
      val mixed = entries.zip(junk).flatMap { case (e, j) => Seq(e, j) }
      Bench.historyMedians(mixed, sf = Some(sf)) ==
        Bench.historyMedians(entries, sf = Some(sf)) &&
      Bench.cleanBandTotals(mixed, sf = Some(sf)) ==
        Bench.cleanBandTotals(entries, sf = Some(sf))
    }

  // ---- verdict coherence --------------------------------------------------

  property("envInflatedVerdict is null iff no evidence, and monotone in smoke") =
    Prop.forAll(Gen.option(Gen.chooseNum(1.0, 500.0)),
      Gen.option(Gen.chooseNum(1.0, 100.0))) { (smoke, base) =>
      val v = Bench.envInflatedVerdict(smoke, base)
      val haveSmoke = smoke.isDefined && base.isDefined
      (v.isEmpty == !haveSmoke) &&
        // a smoke at or under its base never reads inflated
        (!(haveSmoke && smoke.get <= base.get) || v.contains(false)) &&
        // a smoke reading 10x past its base forces true
        (!(haveSmoke && smoke.get > 10 * base.get && smoke.get - base.get > 3.0) ||
          v.contains(true))
    }
}
