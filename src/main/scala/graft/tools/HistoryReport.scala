package graft.tools

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Dev/review tool: the per-query adjudication table every round's bench
  * review rebuilds by hand from `BENCH_HISTORY.jsonl` — each query's latest
  * timing against its clean-history median, worst inflations first — plus
  * the run-level trail (total / degraded / suspect per entry). The medians
  * come from [[graft.Bench.historyMedians]], the SAME function the live
  * suspect verdict feeds on, so this report can never disagree with the
  * flags the bench actually emitted.
  *
  * Usage: `graft.tools.HistoryReport [historyPath]` — default is the
  * bench's own trail ([[graft.Bench.historyPath]]). Read-only; no Spark
  * session.
  */
object HistoryReport {

  private val mapper = new ObjectMapper()

  private def parse(line: String): Option[JsonNode] =
    try Some(mapper.readTree(line)) catch { case _: Exception => None }

  private def flag(n: JsonNode, f: String): Boolean =
    Option(n.get(f)).exists(_.asBoolean)

  /** Locale-pinned numeric formatting (ADVICE r14 #4): the `f""`
    * interpolator uses the JVM default locale, so under e.g. a German
    * default the band rendered "97,2-105,9" — breaking the spec's
    * substring assertions and any text consumer downstream. Every numeric
    * field in this report formats through here.
    */
  private def fnum(pattern: String, args: Any*): String =
    String.format(java.util.Locale.ROOT, pattern,
      args.map(_.asInstanceOf[AnyRef]): _*)

  /** The rendered report for one history trail (pure — spec'd directly).
    * `lines` is the raw JSONL; the LATEST entry is adjudicated against the
    * clean-median baseline of everything before it (the same read-before-
    * append discipline the bench itself uses), so the report answers the
    * reviewer's actual question: "is the newest capture plausible?".
    */
  private[graft] def report(lines: Seq[String], topN: Int = 15): String = {
    val parsed = lines.flatMap(parse)
    if (parsed.isEmpty) return "no parseable history entries"
    val latest = parsed.last
    val sf = Option(latest.get("sf")).map(_.asText())
    // the baseline excludes everything from the ADJUDICATED entry's raw
    // line onward — not merely the last raw line (ADVICE r12): when the
    // trail ends in garbage (a truncated append), parsed.last is an
    // earlier line, and dropRight(1) would have left it inside the
    // baseline, partially judging itself
    val latestIdx = lines.lastIndexWhere(l => parse(l).isDefined)
    // judged at the latest entry's own core count, as the bench judges it:
    // a low-core scaling run in the trail must not feed this config's
    // medians or band
    val cpus = graft.Bench.entryCpus(latest)
    val medians = graft.Bench.historyMedians(lines.take(latestIdx), sf = sf,
      cpus = cpus)

    val sb = new StringBuilder
    // the tree's clean band (VERDICT r13 next-step #6): min–max of the
    // non-suspect, non-degraded, non-env-inflated, same-sf totals — the
    // "97–107 s" a round review used to re-derive by hand now reads off
    // the report header. Since r15 the computation is
    // [[graft.Bench.cleanBandTotals]] — the SAME function whose result the
    // bench emits as the closing line's `band` field, so the report and
    // the artifact can never disagree on what the band is. Windowed to the
    // 10 most recent clean entries: the trail spans many trees, and the
    // oldest clean-stamped totals predate both the current plan set and
    // the contention flags themselves (the live trail's unwindowed band
    // read 89–248 s off one pre-flag-era contaminated entry — useless as
    // a plausibility yardstick).
    val cleanTotals = graft.Bench.cleanBandTotals(lines, sf, cpus = cpus)
    if (cleanTotals.nonEmpty)
      sb ++= s"== clean band (sf=${sf.getOrElse("-")}, last ${cleanTotals.size} clean): " +
        fnum("%.1f-%.1f", cleanTotals.min, cleanTotals.max) + " s ==\n"
    else
      sb ++= s"== clean band (sf=${sf.getOrElse("-")}): no clean entries ==\n"
    // windowed drift verdict (VERDICT r15 next-step #4): a slow creep can
    // hide inside a widening band — r15's clean 119.4 s sat "inside"
    // [98.9, 120.9] while the r14 clean captures were 101–105 s. The trend
    // row compares the last-3 clean median to the prior clean median so
    // the drift question is answered explicitly, not re-derived by hand.
    graft.Bench.cleanTrend(cleanTotals).foreach { case (recent, prior, creep) =>
      sb ++= "clean trend: last-" + graft.Bench.TrendRecentN + " median " +
        fnum("%.1f", recent) + " s vs prior median " + fnum("%.1f", prior) +
        " s (x" + fnum("%.2f", recent / prior) + ") -- " +
        (if (creep) "CREEPING: adjudicate the movers (phases/TimeQ) before trusting the band"
         else "stable") + "\n"
    }
    sb ++= "== run trail (oldest first) ==\n"
    parsed.takeRight(10).foreach { n =>
      val v = Option(n.get("value")).map(x => fnum("%8.1f", x.asDouble)).getOrElse("       ?")
      // tri-state adjudication (r14, widened r15): only printed when the
      // entry carries it — suspect=true + retime_clean=true reads "flagged
      // but the run's own retime pass proved the flags ambient";
      // retime_hot=true beside a false retime_clean reads "the second
      // opinion was also hot"; env_inflated=true reads "the fixed-workload
      // smoke saw the whole window slow" (the r14 blind spot)
      val adjudicated =
        Seq("retime_clean", "retime_hot", "env_inflated")
          .flatMap { f =>
            Option(n.get(f)).filterNot(_.isNull).map(b => s"  $f=${b.asBoolean}")
          }.mkString
      // r16 columns, printed only when the entry carries them: the
      // capture's own wall clock (a wall regression reads straight down
      // the column even when the metric holds), and the deadline's skip
      // count (a clipped entry's small total must not read as a speedup)
      // the run-level env-normalization yardstick (r18): reads straight
      // down the column — 1.17 beside a zero-flag entry is the documented
      // below-sensor inflation class, machine-readable instead of prose
      val envR = Option(n.get("env_ratio")).filter(_.isNumber)
        .map(v => "  env_ratio=" + fnum("%.2f", v.asDouble)).getOrElse("")
      val wall = Option(n.get("wall_sec")).filter(_.isNumber)
        .map(w => "  wall=" + fnum("%.0f", w.asDouble) + "s").getOrElse("")
      val skip = Option(n.get("queries_skipped")).filter(_.isNumber)
        .map(_.asInt).filter(_ > 0).map(k => s"  SKIPPED=$k").getOrElse("")
      sb ++= s"$v s  degraded=${flag(n, "degraded")}  suspect=${flag(n, "suspect")}" +
        s"$adjudicated$envR$wall$skip  sf=${Option(n.get("sf")).map(_.asText()).getOrElse("-")}\n"
    }
    // the latest entry's flagged set and each query's own steal window —
    // parsed BEFORE the decision table so the burst qualifier below and
    // the per-row notes share one read
    val suspectNames = Option(latest.get("suspect_queries")).filter(_.isArray)
      .map { a =>
        val b = Seq.newBuilder[String]; a.forEach(x => b += x.asText); b.result()
      }.getOrElse(Seq.empty[String])
    val qSteal = Option(latest.get("query_steal")).filter(_.isObject).map { m =>
      var out = Map.empty[String, Double]
      m.properties().forEach(e => out += (e.getKey -> e.getValue.asDouble(0.0)))
      out
    }.getOrElse(Map.empty[String, Double])

    // README's bench-contract decision table, applied to the latest entry
    // (r15): the one-line answer to the round review's actual question —
    // is this capture's total trustworthy, environmental, or a regression
    // candidate? Keyed on retime_clean's PRESENCE (it is non-null exactly
    // when something was flagged), so a lone-outlier run with a run-level
    // suspect=false still gets its retime verdict read.
    locally {
      def tri(f: String): Option[Boolean] =
        Option(latest.get(f)).filterNot(_.isNull).map(_.asBoolean)
      val verdict =
        (tri("retime_clean"), tri("env_inflated"), tri("retime_hot")) match {
          case (None, Some(true), _) =>
            "nothing flagged, but the fixed workloads read inflated -- treat the total with caution"
          case (None, _, _) if flag(latest, "suspect") =>
            "flagged, pre-adjudication entry -- read the trail by hand"
          // ADVICE r15 #2: degraded:true with nothing query-level flagged
          // used to fall through to "clean (nothing flagged)", contradicting
          // the trail row right above it
          case (None, _, _) if flag(latest, "degraded") =>
            "chunk-level contention flagged (degraded) -- nothing query-level to adjudicate; exclude the total from baselines"
          case (None, _, _) => "clean (nothing flagged)"
          case (Some(true), _, _) =>
            "flags ambient -- every retime landed back inside its band"
          case (Some(false), Some(true), _) =>
            "environmental -- fixed workloads confirm a slow window; discard the totals"
          case (Some(false), _, Some(true)) =>
            "environmental-leaning -- the retime window itself ran hot"
          case (Some(false), Some(false), _) =>
            // the r16 contended capture's exact shape: the smoke at speed
            // (bursts land outside its window), retimes cap-dropped
            // or re-hit by the next burst — but the flagged rows' own
            // steal windows carry the evidence. Report-level qualifier
            // only: the emitted tri-states deliberately never consume
            // query_steal (VERDICT r15: diagnostic context, not a verdict
            // input), so the human-facing table is where it must speak.
            "REAL-REGRESSION CANDIDATE -- fixed workloads ran at speed while flags stayed inflated" + {
              val stealFlagged =
                suspectNames.count(n => qSteal.getOrElse(n, 0.0) >= 3.0)
              // >=3 steal-hit rows is the burst signature; ALL rows
              // steal-hit (any count, e.g. the lone 2.1x flag whose only
              // window read 4.1% steal) is the same evidence at small n
              if (stealFlagged >= 3 ||
                  (stealFlagged > 0 && stealFlagged == suspectNames.size))
                s" -- BUT $stealFlagged of ${suspectNames.size} flagged rows carry >=3% steal in their own repeat windows: burst-contention signature, read the rows before believing a regression"
              else ""
            }
          case (Some(false), None, _) =>
            "unadjudicable -- flags stayed inflated and no fixed-workload baseline exists"
        }
      sb ++= s"latest adjudication: $verdict\n"
    }

    val qs = Option(latest.get("queries")).filter(_.isObject).map { q =>
      var out = List.empty[(String, Double)]
      q.properties().forEach(e => out ::= (e.getKey, e.getValue.asDouble(-1.0)))
      out.reverse
    }.getOrElse(Nil)
    if (qs.isEmpty) { sb ++= "latest entry carries no queries map\n"; return sb.result() }

    // the suspect-pass re-readings, when the entry carries them (VERDICT
    // r12 #2): shown beside the flagged timing so the adjudication — did
    // the retime land back inside the median band? — reads off one row
    val retimed = Option(latest.get("retimed")).filter(_.isObject).map { m =>
      var out = Map.empty[String, Double]
      m.properties().forEach(e => out += (e.getKey -> e.getValue.asDouble(-1.0)))
      out
    }.getOrElse(Map.empty[String, Double])
    def retimedNote(name: String): String =
      retimed.get(name).map(v => "  retimed " + fnum("%6.2f", v) + " s").getOrElse("")

    // the query's own steal window (r15): burst contention that lands on
    // one query is invisible to the chunk averages but shows right here —
    // a flagged row with material steal reads environmental at a glance
    // (qSteal itself is hoisted above the decision table since r16)
    def stealNote(name: String): String =
      qSteal.get(name).filter(_ >= 1.0)
        .map(v => "  steal " + fnum("%.1f", v) + "%").getOrElse("")

    val rows = qs.collect { case (name, secs) if secs >= 0 && medians.contains(name) =>
      (name, secs, medians(name), secs / medians(name))
    }
    sb ++= s"\n== latest vs clean-median baseline (${rows.size} judged, worst first) ==\n"
    rows.sortBy(-_._4).take(topN).foreach { case (name, secs, med, r) =>
      sb ++= fnum("%-24s %7.2f s  med %7.2f s  x%5.2f", name, secs, med, r) +
        s"${retimedNote(name)}${stealNote(name)}\n"
    }
    sb ++= s"\n== most expensive (latest) ==\n"
    rows.sortBy(-_._2).take(topN).foreach { case (name, secs, med, r) =>
      sb ++= fnum("%-24s %7.2f s  med %7.2f s  x%5.2f", name, secs, med, r) + "\n"
    }
    val unjudged = qs.collect { case (n, s) if s >= 0 && !medians.contains(n) => n }
    if (unjudged.nonEmpty)
      sb ++= s"\n(no clean baseline yet: ${unjudged.size} queries, e.g. ${unjudged.take(5).mkString(", ")})\n"
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse(graft.Bench.historyPath)
    val lines =
      try scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))).asScala.toSeq
      catch { case e: Exception =>
        System.err.println(s"cannot read $path: ${e.toString.take(120)}"); return
      }
    println(report(lines))
  }
}
