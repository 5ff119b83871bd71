package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Dialect.{hash60Sql, wordsSql}

/** The straightforward forms the graded dedup pipelines replaced, kept as
  * executable parity references: each spec that pins a fast form compares it
  * against the spelling here. None of these is on a graded path.
  */
object ReferenceForms {

  /** In-bucket pair expansion over a sorted collected member list: all i < j
    * element pairs of `listCol`, each built by `mk(x, y)` (x before y in
    * sort order, so derived ids satisfy a < b). The 1-based
    * `slice(l, i + 2, size(l))` arithmetic is the subtle part of the oracle
    * contract for in-bucket pairs. The graded pipelines expand
    * through the native [[graft.expressions.PairStructs]] (same pairs, same
    * order); this composed lambda spelling is its parity reference
    * (PairStructsSpec / PairExpansionSpec / OptimizedFormsSpec /
    * ScaleGateSpec).
    */
  def pairExpansionSql(listCol: String)(mk: (String, String) => String): String =
    s"flatten(transform($listCol, (x, i) -> " +
      s"transform(slice($listCol, i + 2, size($listCol)), y -> ${mk("x", "y")})))"

  /** The lead-window form [[DedupQueries.gramRows]] replaced. */
  def gramRowsViaWindow(docs: DataFrame, carry: Seq[String]): DataFrame = {
    val w    = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val keep = col("doc_id") +: carry.map(col)
    docs
      .select(keep :+ posexplode(expr(wordsSql)).as(Seq("pos", "w")): _*)
      .withColumn("w1", lead(col("w"), 1).over(w))
      .filter(col("w1").isNotNull)
      .select(keep :+ concat_ws(" ", col("w"), col("w1")).as("gram"): _*)
  }

  /** The double-lead window form [[DedupQueries.shingleRows]] replaced. */
  def shingleRowsViaWindow(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    docs
      .select(col("doc_id"), posexplode(expr(wordsSql)).as(Seq("pos", "w")))
      .withColumn("w1", lead(col("w"), 1).over(w))
      .withColumn("w2", lead(col("w"), 2).over(w))
      .filter(col("w2").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("w"), col("w1"), col("w2")).as("shingle"))
      .distinct()
      .withColumn("h", expr(hash60Sql("shingle")))
  }

  /** Window form of [[DedupQueries.positionalShingles]]. */
  def positionalShinglesViaWindow(docs: DataFrame, carry: Seq[String]): DataFrame = {
    val w    = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val keep = col("doc_id") +: carry.map(col)
    docs
      .select(keep :+ posexplode(expr(wordsSql)).as(Seq("pos", "w")): _*)
      .withColumn("w1", lead(col("w"), 1).over(w))
      .withColumn("w2", lead(col("w"), 2).over(w))
      .filter(col("w2").isNotNull)
      .select(keep ++ Seq(col("pos"),
        concat_ws(" ", col("w"), col("w1"), col("w2")).as("shingle")): _*)
  }
}
