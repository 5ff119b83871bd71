package graft

import scala.collection.mutable.ArrayBuffer

import graft.tools.Dev

/** Pins each `graft.tools.Dev` subcommand's report on one cheap query, and
  * the name check that runs before any session exists.
  */
class DevSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private val q   = "q_count_rows"

  private def run(cmd: String, names: String*): Seq[String] = {
    val lines = ArrayBuffer.empty[String]
    Dev.parse(cmd +: names) match {
      case Right(c)  => Dev.run(spark, dir, c, lines += _)
      case Left(msg) => fail(msg)
    }
    lines.toSeq
  }

  test("unknown query names are rejected by the parse, before any session or query") {
    val err = Dev.parse(Seq("time", q, "q_nope", "q_also_nope"))
    assert(err.isLeft)
    val msg = err.swap.toOption.get
    assert(msg.contains("q_nope") && msg.contains("q_also_nope"))
    assert(!msg.contains(q))
    assert(Dev.parse(Seq("bogus")).isLeft)
    assert(Dev.parse(Nil).isLeft)
    assert(Dev.parse(Seq("entry", q)).isLeft)
    assert(Dev.parse(Seq("plan")) ===
      Right(Dev.Command("plan", SparkEntry.queries.keys.toSeq.sorted)))
  }

  test("time prints rep1 and rep2 split into construct and eval") {
    val out = run("time", q)
    val line = """q_count_rows\s+rep(\d) +[\d.]+ s \(construct [\d.]+, eval [\d.]+\)""".r
    assert(out.collect { case line(rep) => rep } === Seq("1", "2"), out)
    assert(!out.exists(_.contains("phases")), out) // not a PhasedQueries member
  }

  test("profile prints a parseable PROF line per rep with its JOB lines") {
    val out = run("profile", q)
    val prof = out.filter(_.startsWith(s"PROF $q rep"))
    assert(prof.size === 2, out)
    prof.foreach { l =>
      val fields = l.split(" ").drop(3).map { kv =>
        val Array(k, v) = kv.split("=")
        k -> v.toDouble
      }.toMap
      assert(fields.keySet === Set("wall", "jobs", "stages", "tasks", "taskSec",
        "shReadMB", "shWriteMB", "execs", "catalystSec"), l)
      assert(fields("jobs") >= 1, l)
    }
    assert(out.exists(_.startsWith("  JOB ")), out)
  }

  test("plan and final-plan print the formatted plan, final-plan after execution") {
    val plan = run("plan", q)
    assert(plan.head === s"===== $q =====")
    assert(plan.exists(_.contains("Physical Plan")))
    assert(plan.exists(_.contains("isFinalPlan=false")))
    val fin = run("final-plan", q).mkString("\n")
    assert(fin.contains("Physical Plan") && fin.contains("isFinalPlan=true"), fin)
  }

  test("leaks reports no leak for a query that persists nothing raw") {
    assert(run("leaks", q) === Seq(s"$q no leak"))
  }

  test("entry runs SparkEntry.entry and reports its rows") {
    val rows = run("entry").collectFirst { case s"entry rows=$n" => n.toInt }
    assert(rows.exists(_ > 0))
  }
}
