package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.tools.ScaleSmoke

/** The scaling regression gate (VERDICT r6 next-step #3). Two layers:
  *
  *  - the MUTATION check runs always and proves the gate is sensitive: the
  *    same bucket→pair pipeline the graded minhash queries use, pushed
  *    through [[ScaleSmoke.violations]] with its hot-bucket cap removed,
  *    MUST trip the gate (pair counts grow quadratically), while the capped
  *    twin passes. Rows — the work proxy the cap bounds — are the metric
  *    here because a sub-second toy timing would make the mutation check a
  *    coin flip; the CI gate at real scale uses seconds through the same
  *    violations() logic.
  *  - the env-flagged full gate (GRAFT_SCALE_GATE=1) replicates the
  *    configured sf dir at 1×/2×/4× and asserts the graded query set's TIME
  *    curve stays within the bound — the dev/CI command is
  *    `GRAFT_SCALE_GATE=1 sbt "testOnly graft.queries.ScaleGateSpec"` (or
  *    `runMain graft.tools.ScaleSmoke`, which fails the same way).
  */
class ScaleGateSpec extends SparkTestBase {

  /** Pair count of the banded-bucket expansion over `n` identical docs —
    * one bucket of size n per band, so the uncapped pair output is
    * 4·n·(n−1)/2 while the capped form drops any bucket past MaxBucket.
    */
  private def pairRows(n: Int, capped: Boolean): Long = {
    val docs = spark.range(n).selectExpr("id AS doc_id",
      "'alpha beta gamma delta epsilon zeta' AS text")
    val buckets = DedupQueries.bandRows(DedupQueries.arraySignatures(docs))
      .groupBy("band", "bh")
      .agg(array_sort(collect_set(col("doc_id"))).as("ids"))
    val kept =
      if (capped) buckets.filter(size(col("ids")).between(2, DedupQueries.MaxBucket))
      else buckets.filter(size(col("ids")) >= 2)
    kept.select(explode(expr(ReferenceForms.pairExpansionSql("ids")(
      (x, y) => s"named_struct('a', $x, 'b', $y)"))).as("p"))
      .count()
  }

  test("removing the hot-bucket cap trips the gate; the capped twin passes") {
    val scales = Seq(1, 8)
    val baseN  = 30 // <= MaxBucket at 1x, > MaxBucket at 8x
    def curve(name: String, capped: Boolean) = scales.map { s =>
      ScaleSmoke.Point(name, s, sec = 0.0, rows = pairRows(baseN * s, capped))
    }
    val capped   = curve("capped_pairs", capped = true)
    val uncapped = curve("uncapped_pairs", capped = false)
    // 8x data, linear-plus-headroom budget: 12
    val bound = 12.0
    assert(capped.head.rows > 0, "capped baseline produced no pairs - vacuous")
    assert(ScaleSmoke.violations(capped, bound, _.rows.toDouble).isEmpty,
      "the CAPPED pipeline tripped the gate - bound is miscalibrated")
    val viol = ScaleSmoke.violations(uncapped, bound, _.rows.toDouble)
    assert(viol.nonEmpty,
      "cap removal did NOT trip the gate - the gate cannot catch a quadratic stage")
    // quadratic means ~64x at 8x; check the reported magnitude is in that class
    assert(uncapped.last.rows >= 32L * uncapped.head.rows)
  }

  test("violations() skips zero baselines and accepts linear growth") {
    import ScaleSmoke.Point
    val linear = Seq(Point("q", 1, 1.0, 10), Point("q", 4, 3.9, 40))
    assert(ScaleSmoke.violations(linear, 6.0).isEmpty)
    val zeroBase = Seq(Point("q", 1, 0.0, 0), Point("q", 4, 9.9, 0))
    assert(ScaleSmoke.violations(zeroBase, 6.0).isEmpty, "zero baseline must be skipped, not divided")
    val quad = Seq(Point("q", 1, 0.5, 10), Point("q", 4, 8.0, 160))
    assert(ScaleSmoke.violations(quad, 6.0).nonEmpty)
  }

  test("full time-curve gate at 1x/2x/4x (GRAFT_SCALE_GATE=1)") {
    assume(sys.env.contains("GRAFT_SCALE_GATE"),
      "set GRAFT_SCALE_GATE=1 to run the replicated time-curve gate")
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val viol = ScaleSmoke.run(spark, base, Seq(1, 2, 4))
    assert(viol.isEmpty, s"super-linear scaling:\n${viol.mkString("\n")}")
  }
}
