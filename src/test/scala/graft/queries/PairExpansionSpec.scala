package graft.queries

import org.scalacheck.{Gen, Prop, Properties}

import org.apache.spark.sql.functions._

/** Property pin for the shared in-bucket pair-expansion lambda
  * ([[ReferenceForms.pairExpansionSql]]): four pair generators depend on its
  * 1-based `slice(l, i + 2, size(l))` arithmetic emitting EXACTLY the i < j
  * element pairs — an off-by-one would silently drop or duplicate candidate
  * pairs in every dedup query at once.
  */
object PairExpansionSpec extends Properties("pairExpansion") {

  private lazy val spark = graft.SparkTestBase.spark

  private val idsGen: Gen[Vector[Long]] =
    Gen.choose(0, 7).flatMap(n => Gen.pick(n, 0L until 50L).map(_.toVector.sorted))

  property("emits exactly the i < j pairs of the sorted member list") =
    Prop.forAll(idsGen) { ids =>
      import spark.implicits._
      // sorted multiset, not a set: a regression that emits a pair TWICE
      // must fail here too, and .toSet would collapse the duplicates
      val got = Seq(Tuple1(ids)).toDF("ids")
        .select(explode(expr(ReferenceForms.pairExpansionSql("ids")(
          (x, y) => s"named_struct('a', $x, 'b', $y)"))).as("p"))
        .select("p.a", "p.b").as[(Long, Long)].collect().toVector.sorted
      val want = (for {
        i <- ids.indices; j <- (i + 1) until ids.size
      } yield (ids(i), ids(j))).toVector.sorted
      got == want
    }
}
