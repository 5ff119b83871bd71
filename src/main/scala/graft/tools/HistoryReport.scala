package graft.tools

import graft.Bench
import graft.BenchRecord.{Entry, History}

/** Dev/review tool: the per-query adjudication table a bench review needs
  * from `BENCH_HISTORY.jsonl` — each query's latest timing against its
  * clean-history median, worst inflations first — plus the run-level trail
  * (total / degraded / suspect per entry). The medians, band and trend
  * come from the SAME functions the live bench feeds on
  * ([[graft.Bench.historyMedians]], [[graft.Bench.cleanBandTotals]],
  * [[graft.Bench.cleanTrend]]), so this report can never disagree with the
  * flags the bench actually emitted.
  *
  * Usage: `graft.tools.HistoryReport [historyPath]` — default is the
  * bench's own trail ([[graft.Bench.historyPath]]). Read-only; no Spark
  * session.
  */
object HistoryReport {

  /** Locale-pinned numeric formatting: the `f""` interpolator uses the JVM
    * default locale, under which a German default renders "97,2-105,9".
    */
  private def fnum(pattern: String, args: Any*): String =
    String.format(java.util.Locale.ROOT, pattern,
      args.map(_.asInstanceOf[AnyRef]): _*)

  /** The rendered report for one history trail. The LATEST entry is
    * adjudicated against the clean-median baseline of every entry before
    * it (the bench's own read-before-append discipline), at its own scale
    * factor and core count, so the report answers the question a bench
    * review asks: "is the newest capture plausible?".
    */
  private[graft] def report(history: History, topN: Int = 15): String = {
    val parsed = history.entries
    if (parsed.isEmpty) return "no parseable history entries"
    val latest = parsed.last
    val sf = latest.sf
    val medians = Bench.historyMedians(History(parsed.init), sf = sf, cpus = latest.cpus)

    val sb = new StringBuilder
    // the clean band is windowed to the 10 most recent clean entries: the
    // trail spans many trees, and an old contaminated total would stretch
    // it into a useless yardstick
    val cleanTotals = Bench.cleanBandTotals(history, sf, cpus = latest.cpus)
    if (cleanTotals.nonEmpty)
      sb ++= s"== clean band (sf=${sf.getOrElse("-")}, last ${cleanTotals.size} clean): " +
        fnum("%.1f-%.1f", cleanTotals.min, cleanTotals.max) + " s ==\n"
    else
      sb ++= s"== clean band (sf=${sf.getOrElse("-")}): no clean entries ==\n"
    // a slow creep can hide inside a widening band; the trend row asks
    // the drift question explicitly
    Bench.cleanTrend(cleanTotals).foreach { case (recent, prior, creep) =>
      sb ++= "clean trend: last-" + Bench.TrendRecentN + " median " +
        fnum("%.1f", recent) + " s vs prior median " + fnum("%.1f", prior) +
        " s (x" + fnum("%.2f", recent / prior) + ") -- " +
        (if (creep) "CREEPING: adjudicate the movers (phases/TimeQ) before trusting the band"
         else "stable") + "\n"
    }
    sb ++= "== run trail (oldest first) ==\n"
    parsed.takeRight(10).foreach { e =>
      val v = e.value.map(fnum("%8.1f", _)).getOrElse("       ?")
      // columns an entry predates are left out, never printed as defaults
      val adjudicated = Seq("retime_clean" -> e.retimeClean,
          "retime_hot" -> e.retimeHot, "env_inflated" -> e.envInflated)
        .flatMap { case (f, b) => b.map(x => s"  $f=$x") }.mkString
      val envR = e.envRatio.map(r => "  env_ratio=" + fnum("%.2f", r)).getOrElse("")
      val wall = e.wallSec.map(w => "  wall=" + fnum("%.0f", w) + "s").getOrElse("")
      // a deadline-clipped entry's small total must not read as a speedup
      val skip = e.queriesSkipped.filter(_ > 0).map(k => s"  SKIPPED=$k").getOrElse("")
      sb ++= s"$v s  degraded=${e.degraded}  suspect=${e.suspect}" +
        s"$adjudicated$envR$wall$skip  sf=${e.sf.getOrElse("-")}\n"
    }
    sb ++= s"latest adjudication: ${verdict(latest)}\n"

    val qs = latest.queries.getOrElse(Nil)
    if (qs.isEmpty) { sb ++= "latest entry carries no queries map\n"; return sb.result() }

    // the retime re-reading and the query's own steal window beside the
    // flagged timing: burst contention that lands on one query is
    // invisible to the chunk averages but reads off its row
    def notes(name: String): String =
      latest.retimed.get(name).map(v => "  retimed " + fnum("%6.2f", v) + " s").getOrElse("") +
        latest.querySteal.get(name).filter(_ >= 1.0)
          .map(v => "  steal " + fnum("%.1f", v) + "%").getOrElse("")
    val rows = qs.collect { case (name, secs) if secs >= 0 && medians.contains(name) =>
      (name, secs, medians(name), secs / medians(name))
    }
    sb ++= s"\n== latest vs clean-median baseline (${rows.size} judged, worst first) ==\n"
    rows.sortBy(-_._4).take(topN).foreach { case (name, secs, med, r) =>
      sb ++= fnum("%-24s %7.2f s  med %7.2f s  x%5.2f", name, secs, med, r) +
        s"${notes(name)}\n"
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

  /** README's bench-contract decision table applied to one entry: is its
    * total trustworthy, environmental, or a regression candidate? Keyed on
    * `retime_clean`'s PRESENCE (it is non-null exactly when something was
    * flagged), so a lone-outlier run with a run-level suspect=false still
    * gets its retime verdict read.
    */
  private def verdict(latest: Entry): String =
    (latest.retimeClean, latest.envInflated, latest.retimeHot) match {
      case (None, Some(true), _) =>
        "nothing flagged, but the fixed workloads read inflated -- treat the total with caution"
      case (None, _, _) if latest.suspect =>
        "flagged, pre-adjudication entry -- read the trail by hand"
      case (None, _, _) if latest.degraded =>
        "chunk-level contention flagged (degraded) -- nothing query-level to adjudicate; exclude the total from baselines"
      case (None, _, _) => "clean (nothing flagged)"
      case (Some(true), _, _) =>
        "flags ambient -- every retime landed back inside its band"
      case (Some(false), Some(true), _) =>
        "environmental -- fixed workloads confirm a slow window; discard the totals"
      case (Some(false), _, Some(true)) =>
        "environmental-leaning -- the retime window itself ran hot"
      case (Some(false), Some(false), _) =>
        // the emitted tri-states never consume query_steal (diagnostic
        // context, not a verdict input), so this human-facing table is
        // where burst-steal evidence on the flagged rows must speak
        val flagged = latest.suspectQueries
        val stealFlagged = flagged.count(n => latest.querySteal.getOrElse(n, 0.0) >= 3.0)
        "REAL-REGRESSION CANDIDATE -- fixed workloads ran at speed while flags stayed inflated" + (
          // >=3 steal-hit rows is the burst signature; ALL rows steal-hit
          // is the same evidence at small n
          if (stealFlagged >= 3 || (stealFlagged > 0 && stealFlagged == flagged.size))
            s" -- BUT $stealFlagged of ${flagged.size} flagged rows carry >=3% steal in their own repeat windows: burst-contention signature, read the rows before believing a regression"
          else "")
      case (Some(false), None, _) =>
        "unadjudicable -- flags stayed inflated and no fixed-workload baseline exists"
    }

  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse(Bench.historyPath)
    val lines =
      try scala.jdk.CollectionConverters.ListHasAsScala(
        java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))).asScala.toSeq
      catch { case e: Exception =>
        System.err.println(s"cannot read $path: ${e.toString.take(120)}"); return
      }
    println(report(History.parse(lines)))
  }
}
