package graft

import graft.streaming.{IncrementalDedup, KeyedTable, Layers}

/** Incremental near-dup indexing ([[IncrementalDedup]]): new batches must
  * find pairs against the stored corpus without reprocessing old text, be
  * replay-safe under the KeyedTable batch protocol, and — when a corpus is
  * fed in batches — reproduce the batch query's pair set.
  */
class IncrementalDedupSpec extends SparkTestBase {

  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"inc_dedup_$tag").toString

  private val base = "the quick brown fox jumps over the lazy dog again and again"

  test("cross-batch pairs are found without reprocessing batch-1 text") {
    val table = new KeyedTable(spark, tmp("cross"), "doc_id")
    val b1 = Seq((1L, base), (2L, base + " tail"), (3L, "completely unrelated words forming another doc"))
      .toDF("doc_id", "text")
    val p1 = IncrementalDedup.processBatch(table, b1, 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(p1.contains((1L, 2L, true)), s"within-batch near-dup missed: $p1")
    assert(!p1.exists(p => p._1 == 3L || p._2 == 3L))

    // batch 2: a copy of doc 1 plus an unrelated doc — the (1,4) pair must
    // surface as a cross-corpus (is_new_b = false) hit
    val b2 = Seq((4L, base), (5L, "different content with no overlap at all here"))
      .toDF("doc_id", "text")
    val p2 = IncrementalDedup.processBatch(table, b2, 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(p2.contains((1L, 4L, false)), s"cross-corpus pair missed: $p2")
    assert(p2.contains((2L, 4L, false)))
    // stored×stored pairs must NOT re-emit
    assert(!p2.contains((1L, 2L, true)) && !p2.contains((1L, 2L, false)))
    assert(table.read().get.count() == 5)
  }

  test("replayed batch id emits nothing and leaves the table unchanged") {
    val table = new KeyedTable(spark, tmp("replay"), "doc_id")
    val b1 = Seq((1L, base), (2L, base + " tail")).toDF("doc_id", "text")
    assert(IncrementalDedup.processBatch(table, b1, 0L).count() > 0)
    assert(IncrementalDedup.processBatch(table, b1, 0L).count() == 0)
    assert(table.read().get.count() == 2)
  }

  test("a first batch with no band rows neither crashes nor loses its batch id") {
    val table = new KeyedTable(spark, tmp("empty"), "doc_id")
    // all docs < 3 words → no shingles → no signatures → no band rows; the
    // bands dir has no parquet files yet and must not be read
    val b0 = Seq((1L, "too short"), (2L, "also short")).toDF("doc_id", "text")
    val p0 = IncrementalDedup.processBatch(table, b0, 0L)
    assert(p0.count() == 0)
    p0.unpersist()
    assert(table.alreadyApplied(0L), "empty batch must still be recorded as applied")
    // a later real batch proceeds normally
    val b1 = Seq((3L, base), (4L, base + " tail")).toDF("doc_id", "text")
    val p1 = IncrementalDedup.processBatch(table, b1, 1L)
    assert(p1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((3L, 4L)))
    p1.unpersist()
  }

  test("a batch's stored-band read prunes to touched pb partitions only") {
    val table = new KeyedTable(spark, tmp("prune"), "doc_id")
    val b1 = Seq((1L, base), (2L, base + " tail"),
      (3L, "completely unrelated words forming another doc"),
      (4L, "yet another body of text with different words entirely")).toDF("doc_id", "text")
    IncrementalDedup.processBatch(table, b1, 0L).unpersist()
    val bands = IncrementalDedup.bandsPath(table)
    val allPbs = spark.read.parquet(bands).select("pb").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(allPbs.size > 1, s"test corpus landed in one pb partition: $allPbs")

    // a hypothetical batch touching only ONE pb must read only that
    // partition's files — partition pruning in the plan AND in actual IO
    val touched = Seq(allPbs.head)
    val df = IncrementalDedup.storedBands(spark, bands, touched, 1L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filters:\n${plan.take(2000)}")
    val files = df.select(org.apache.spark.sql.functions.input_file_name())
      .distinct().collect().map(_.getString(0))
    assert(files.nonEmpty)
    // full path segment, not substring: "pb=1" would also accept pb=12
    // (ADVICE r6)
    assert(files.forall(_.contains(s"/pb=${touched.head}/")),
      s"read escaped the touched partition: ${files.mkString("\n")}")
    // the current batch's own (crash-replay) partitions are never "stored"
    assert(IncrementalDedup.storedBands(spark, bands, allPbs, 0L).count() == 0)
  }

  test("compactBands folds batch layers and drops stale re-index rows") {
    val table = new KeyedTable(spark, tmp("compact"), "doc_id")
    val b1 = Seq((1L, base), (2L, base + " tail")).toDF("doc_id", "text")
    IncrementalDedup.processBatch(table, b1, 0L).unpersist()
    // re-index doc 1 with DIFFERENT text: its old band rows go stale
    val b2 = Seq((1L, "entirely new content for doc one rewritten completely fresh"))
      .toDF("doc_id", "text")
    IncrementalDedup.processBatch(table, b2, 1L).unpersist()
    val bands = IncrementalDedup.bandsPath(table)
    assert(spark.read.parquet(bands).count() == 12) // 8 (b1) + 4 (b2 re-index)
    IncrementalDedup.compactBands(table)
    val after = spark.read.parquet(bands)
    assert(after.count() == 8, "compaction must keep 4 band rows per CURRENT signature")
    assert(after.select("batch").distinct().collect().map(_.getInt(0)).toSeq == Seq(-1))
    // a later batch still probes the compacted layer — and doc 1's STALE
    // text can no longer produce candidates
    val b3 = Seq((5L, base + " tail")).toDF("doc_id", "text")
    val p3 = IncrementalDedup.processBatch(table, b3, 2L)
    val got = p3.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    p3.unpersist()
    assert(got.contains((2L, 5L)), s"pair against compacted index missed: $got")
    assert(!got.exists(p => p._1 == 1L || p._2 == 1L), s"stale doc-1 candidate: $got")
    // a SECOND compaction writes the next generation layer and sweeps the
    // previous one (generational, never in-place — the old layer is the
    // only copy of folded rows, so it must survive until the new layer
    // commits); 3 signatures remain -> 12 band rows in batch=-2 only
    IncrementalDedup.compactBands(table)
    val gen2 = spark.read.parquet(bands)
    assert(gen2.count() == 12, s"second compaction kept ${gen2.count()} rows (want 3 docs x 4)")
    assert(gen2.select("batch").distinct().collect().map(_.getInt(0)).toSeq == Seq(-2))
  }

  test("deleteDocs: deleted docs stop pairing immediately; compaction folds the delete") {
    val table = new KeyedTable(spark, tmp("delete"), "doc_id")
    val b1 = Seq((1L, base), (2L, base + " tail"),
      (3L, "completely unrelated words forming another doc")).toDF("doc_id", "text")
    IncrementalDedup.processBatch(table, b1, 0L).unpersist()

    // delete doc 1: signature row gone, tombstone written
    IncrementalDedup.deleteDocs(table, Seq(1L).toDF("doc_id"), 1L)
    assert(table.read().get.select("doc_id").as[Long].collect().toSet == Set(2L, 3L))

    // a new near-dup of the DELETED doc pairs only with the survivor —
    // the band index still holds doc 1's rows, the tombstone hides them
    val b2 = Seq((4L, base)).toDF("doc_id", "text")
    val p2 = IncrementalDedup.processBatch(table, b2, 2L)
    val got = p2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    p2.unpersist()
    assert(got.contains((2L, 4L)), s"survivor pair missed: $got")
    assert(!got.exists(p => p._1 == 1L || p._2 == 1L), s"deleted doc paired: $got")

    // replayed delete batch id: refused by the table's applied guard
    IncrementalDedup.deleteDocs(table, Seq(2L).toDF("doc_id"), 1L)
    assert(table.read().get.count() == 3) // 2, 3, 4 — nothing re-deleted

    // compaction rebuilds bands from the clean signature table and clears
    // the tombstones; the deleted doc stays gone
    IncrementalDedup.compactBands(table)
    assert(Layers.ids(spark, IncrementalDedup.tombsPath(table)).isEmpty,
      "compaction did not clear the tombstone layers")
    val bandDocs = spark.read.parquet(IncrementalDedup.bandsPath(table))
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(!bandDocs.contains(1L), "compaction kept the deleted doc's band rows")
    val b3 = Seq((6L, base)).toDF("doc_id", "text")
    val p3 = IncrementalDedup.processBatch(table, b3, 3L)
    val got3 = p3.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    p3.unpersist()
    assert(got3.contains((2L, 6L)) && got3.contains((4L, 6L)), s"post-compact pairs: $got3")
    assert(!got3.exists(p => p._1 == 1L || p._2 == 1L))
  }

  test("a crash between the band write and the signature merge replays cleanly") {
    val table = new KeyedTable(spark, tmp("crash"), "doc_id")
    val b1 = Seq((1L, base), (2L, "completely unrelated words forming another doc"))
      .toDF("doc_id", "text")
    IncrementalDedup.processBatch(table, b1, 0L).unpersist()
    // simulate batch 1 dying AFTER its band write, BEFORE the merge: its
    // band partitions exist on disk but the pointer never recorded batch 1
    val b2 = Seq((3L, base), (4L, base + " tail")).toDF("doc_id", "text")
    IncrementalDedup.withPb(
        graft.queries.DedupQueries.bandRows(IncrementalDedup.signaturesOf(b2)))
      .withColumn("batch", org.apache.spark.sql.functions.lit(1L))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch", "pb")
      .parquet(IncrementalDedup.bandsPath(table))
    assert(!table.alreadyApplied(1L))
    // the foreachBatch replay of batch 1 must neither crash, nor see its own
    // crashed leftovers as "stored", nor lose pairs: exactly the clean result
    val p = IncrementalDedup.processBatch(table, b2, 1L)
    val got = p.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    p.unpersist()
    assert(got == Set((1L, 3L, false), (1L, 4L, false), (3L, 4L, true)),
      s"replay after simulated crash diverged: $got")
    assert(table.read().get.count() == 4)
  }

  test("batched indexing of the corpus reproduces the batch query's pair set") {
    val dir  = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val table = new KeyedTable(spark, tmp("parity"), "doc_id")
    val half1 = docs.filter($"doc_id" % 2 === 0)
    val half2 = docs.filter($"doc_id" % 2 =!= 0)
    val got =
      (IncrementalDedup.processBatch(table, half1, 0L).collect() ++
        IncrementalDedup.processBatch(table, half2, 1L).collect())
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = SparkEntry.queries("q_dedup_minhash")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }
}
