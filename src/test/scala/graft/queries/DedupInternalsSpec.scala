package graft.queries

import graft.SparkTestBase

/** Pins for the dedup family's internal lineage rewrites — shapes the graded
  * oracle can't see because two implementations of the same values hash
  * identically. Each pin compares the FAST form actually on the graded path
  * against the straightforward row form it replaced.
  */
class DedupInternalsSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = graft.Tables.documents(spark, dir)

  test("arraySignatures equals the row-form signatures on every column") {
    // same population (docs with >= 3 words), same (doc_id, m0..m7, sz)
    val a = DedupQueries.arraySignatures(docs)
    val r = DedupQueries.rowSignatures(docs)
    assert(a.columns.toSeq == r.columns.toSeq)
    assert(a.exceptAll(r).isEmpty && r.exceptAll(a).isEmpty)
    assert(a.count() > 0) // non-vacuous: the fixture has shingled docs
  }

  test("array-native gram/shingle builders equal their window forms exactly") {
    // the r8 rewrite removed the corpus sort+shuffle the lead-windows paid;
    // the VALUES (multisets — gramRows keeps repeats) must be identical
    def bagEqual(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(bagEqual(
      DedupQueries.shingleRows(docs),
      ReferenceForms.shingleRowsViaWindow(docs)))
    assert(bagEqual(
      DedupQueries.positionalShingles(docs, Seq("source")),
      ReferenceForms.positionalShinglesViaWindow(docs, Seq("source"))))
    assert(bagEqual(
      DedupQueries.gramRows(docs, Seq("source")),
      ReferenceForms.gramRowsViaWindow(docs, Seq("source"))))
    assert(bagEqual(
      DedupQueries.gramRows(docs, Nil),
      ReferenceForms.gramRowsViaWindow(docs, Nil)))
    assert(DedupQueries.shingleRows(docs).count() > 0) // non-vacuous
  }

  test("bucketStarEdges connects exactly the candidate-pair components") {
    // star edges are a different EDGE SET by design (O(size) per bucket) —
    // what must match is the component structure the graded query derives
    val sig   = DedupQueries.arraySignatures(docs).persist()
    val nodes = docs.select("doc_id")
    def labels(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      graft.operators.Components.connectedAlternating(nodes, edges)
        .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    val viaStars = labels(DedupQueries.bucketStarEdges(sig))
    val viaPairs = labels(DedupQueries.pairEdgesForTest(sig))
    sig.unpersist()
    assert(viaStars == viaPairs)
    // non-vacuous: at least one real multi-doc cluster in the fixture
    assert(viaStars.exists { case (id, lbl) => id != lbl })
  }
}
