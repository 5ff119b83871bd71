package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.AnnIndex
import graft.streaming.{IncrementalDedup, KeyedTable, Packing, Sketches}

/** Cross-operator crash consistency (VERDICT r6 #8): five incremental
  * operators — dedup band index, CMS, DSIR importance model, packing, LSH
  * ANN index — share ONE foreachBatch body. A crash BETWEEN two publishes
  * leaves the stores at DIFFERENT applied-batch ids; on the replay
  * foreachBatch guarantees (same batch id, same data), each operator's own
  * applied guard must let the already-published operators skip and the
  * interrupted ones apply — converging every store to the uninterrupted
  * run's end state. The DSIR model is the sharpest case: its merge is
  * ADDITION (non-idempotent), so a replay slipping past the guard
  * double-counts rather than no-ops.
  */
class CrossOpCrashSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private final class InjectedCrash extends RuntimeException("kill between publishes")

  private case class Quad(dedup: KeyedTable, cms: KeyedTable, dsir: KeyedTable,
      pack: KeyedTable, annDir: String)

  private def mkQuad(tag: String): Quad = {
    def tmp(op: String) =
      java.nio.file.Files.createTempDirectory(s"xop_${tag}_$op").toString
    Quad(
      new KeyedTable(spark, tmp("dedup"), "doc_id"),
      new KeyedTable(spark, tmp("cms"), "bucket"),
      new KeyedTable(spark, tmp("dsir"), "bucket"),
      new KeyedTable(spark, tmp("pack"), "doc_id"),
      tmp("ann"))
  }

  /** The shared batch body: five publishes in a fixed order, with an
    * optional injected crash after the k-th (0 = run to completion).
    */
  private def runBatch(t: Quad, docs: DataFrame, id: Long, crashAfter: Int = 0): Unit = {
    IncrementalDedup.processBatch(t.dedup, docs, id).unpersist()
    if (crashAfter == 1) throw new InjectedCrash
    Sketches.updateCms(t.cms, docs, id)
    if (crashAfter == 2) throw new InjectedCrash
    Sketches.updateDsirModel(t.dsir, docs, id)
    if (crashAfter == 3) throw new InjectedCrash
    Packing.updatePacked(t.pack, docs, id)
    if (crashAfter == 4) throw new InjectedCrash
    AnnIndex.appendBatchLsh(spark, t.annDir, vecBatch(id), id)
    ()
  }

  // doc_id-range batches: ordered across batches per source, so the packing
  // end state is also checkable against the graded batch query
  private def batch(i: Long): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("doc_id") >= i * 170 && col("doc_id") < (i + 1) * 170)

  private def vecBatch(i: Long): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") >= i * 170 && col("vec_id") < (i + 1) * 170)

  private def probes: DataFrame =
    AnnIndex.probeWorkload(spark, dir)

  private def endState(t: Quad): Seq[Seq[String]] = {
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    Seq(rows(t.dedup.read().get),
      rows(t.cms.read().get.select("r", "bucket", "cnt")),
      rows(t.dsir.read().get.select("bucket", "r_b", "t_b")),
      rows(t.pack.read().get),            // per-source offsets snapshot
      rows(Packing.readPacked(spark, t.pack).get), // assignment layers
      rows(AnnIndex.searchLsh(spark, t.annDir, probes)))
  }

  private def runWithCrash(crashAfter: Int): Quad = {
    val t = mkQuad(s"crash$crashAfter")
    runBatch(t, batch(0), 0L)
    intercept[InjectedCrash] { runBatch(t, batch(1), 1L, crashAfter) }
    // the crash must really have split the batch across publishes: every
    // operator before the kill recorded batch 1, every one after did not
    assert(t.dedup.alreadyApplied(1L))
    assert(t.cms.alreadyApplied(1L) == (crashAfter >= 2))
    assert(t.dsir.alreadyApplied(1L) == (crashAfter >= 3))
    assert(t.pack.alreadyApplied(1L) == (crashAfter >= 4))
    // the ann append always ran last, so after any injected crash it must
    // still accept batch 1 on replay (appendBatchLsh returns true = applied)
    runBatch(t, batch(1), 1L) // foreachBatch replay: same id, same data
    runBatch(t, batch(2), 2L)
    t
  }

  test("kill between publishes, resume: all five end states match the uninterrupted run") {
    val base = mkQuad("base")
    (0L to 2L).foreach(i => runBatch(base, batch(i), i))
    val want = endState(base)
    assert(endState(runWithCrash(1)) == want) // died after dedup publish
    assert(endState(runWithCrash(2)) == want) // died after cms publish
    assert(endState(runWithCrash(3)) == want) // died after dsir publish
    assert(endState(runWithCrash(4)) == want) // died after packing publish
    // sanity: the run produced real state, not five empty stores
    assert(want.forall(_.nonEmpty))
  }

  test("compactPacks folds layers without changing assignments; interrupted sweep reads clean") {
    val t = mkQuad("compact")
    (0L to 2L).foreach(i => runBatch(t, batch(i), i))
    def packRows = Packing.readPacked(spark, t.pack).get
      .collect().map(_.toString).sorted.toSeq
    val before = packRows
    Packing.compactPacks(spark, t.pack)
    assert(packRows == before)
    // one folded layer remains
    val root = java.nio.file.Paths.get(t.pack.dir + "/packs")
    def layers = java.nio.file.Files.list(root).toArray.map(_.toString)
      .filter(_.contains("batch=")).toSeq
    assert(layers.size == 1 && layers.head.contains("batch=-1"))
    // simulate a crashed sweep: a stale duplicate layer next to the folded
    // one — reads must stay equivalent, and the next compaction folds it
    val stale = root.resolve("batch=9")
    org.apache.commons.io.FileUtils.copyDirectory(root.resolve("batch=-1").toFile, stale.toFile)
    assert(packRows == before)
    Packing.compactPacks(spark, t.pack)
    assert(packRows == before)
    assert(layers.size == 1 && layers.head.contains("batch=-2"))
    // further batches keep appending on top of the folded layer
    runBatch(t, batch(3), 3L)
    assert(Packing.readPacked(spark, t.pack).get.count() >= before.size)
  }

  test("a maintenance epoch (compact every store) between batches is invisible") {
    // the T7 interleave at the store level: after batch 1, run ALL the
    // generational compactions — band index, pack layers, LSH ANN — then
    // continue with batch 2. Every end state must equal the uninterrupted
    // run's: compaction is maintenance, never semantics, and the applied
    // pointers must survive it so replay refusal keeps working.
    val base = mkQuad("mbase")
    (0L to 2L).foreach(i => runBatch(base, batch(i), i))
    val want = endState(base)
    val t = mkQuad("maint")
    runBatch(t, batch(0), 0L)
    runBatch(t, batch(1), 1L)
    IncrementalDedup.compactBands(t.dedup)
    Packing.compactPacks(spark, t.pack)
    AnnIndex.compact(spark, t.annDir)
    // replay of an applied id after compaction is still refused
    assert(t.dedup.alreadyApplied(1L) && t.pack.alreadyApplied(1L))
    assert(!AnnIndex.appendBatchLsh(spark, t.annDir, vecBatch(1L), 1L))
    runBatch(t, batch(2), 2L)
    assert(endState(t) == want)
  }

  test("deletes interleaved with batches converge to the delete-at-end survivor state") {
    // the takedown paths (dedup deleteDocs, ANN deleteIds) must commute
    // with later batches at the STORE level: deleting before batch 2 (so
    // batch 2 never pairs/ranks against the victims) and deleting after
    // batch 2 end in the same signature table and the same search results
    // — pair EMISSION differs by design (that's why you delete early), the
    // persisted survivor state must not. A maintenance epoch between
    // guards the delete+compact interaction.
    import spark.implicits._
    // deterministic victim sets — an unordered limit() could pick
    // different rows on each evaluation
    val docVictims = batch(0).select("doc_id").filter(col("doc_id") < 20)
    val vecVictims = vecBatch(0L).select(col("vec_id")).filter(col("vec_id") < 20)

    def dedupRows(t: Quad) =
      t.dedup.read().get.collect().map(_.toString).sorted.toSeq
    def annRows(t: Quad) =
      AnnIndex.searchLsh(spark, t.annDir, probes).collect().map(_.toString).sorted.toSeq
    // runBatch derives the vector slice from the batch id — after the
    // delete consumed an id, data index and id diverge, so feed the five
    // ops the data slice explicitly
    def runBatchAt(t: Quad, dataIdx: Long, id: Long): Unit = {
      IncrementalDedup.processBatch(t.dedup, batch(dataIdx), id).unpersist()
      Sketches.updateCms(t.cms, batch(dataIdx), id)
      Sketches.updateDsirModel(t.dsir, batch(dataIdx), id)
      Packing.updatePacked(t.pack, batch(dataIdx), id)
      AnnIndex.appendBatchLsh(spark, t.annDir, vecBatch(dataIdx), id)
      ()
    }

    // delete EARLY: after batch 1, with a maintenance epoch before the
    // last doc batch — the delete consumes the next id in the stream's
    // sequence (the applied pointer is monotonic; an out-of-order id would
    // make every later batch look like a replay)
    val early = mkQuad("delearly")
    runBatch(early, batch(0), 0L)
    runBatch(early, batch(1), 1L)
    IncrementalDedup.deleteDocs(early.dedup, docVictims, 2L)
    AnnIndex.deleteIds(spark, early.annDir, vecVictims.toDF(), 2L)
    IncrementalDedup.compactBands(early.dedup)
    AnnIndex.compact(spark, early.annDir)
    runBatchAt(early, 2L, 3L)

    // delete LATE: all three batches first, then the same deletes + compact
    val late = mkQuad("dellate")
    (0L to 2L).foreach(i => runBatch(late, batch(i), i))
    IncrementalDedup.deleteDocs(late.dedup, docVictims, 3L)
    AnnIndex.deleteIds(spark, late.annDir, vecVictims.toDF(), 3L)
    IncrementalDedup.compactBands(late.dedup)
    AnnIndex.compact(spark, late.annDir)

    assert(dedupRows(early) == dedupRows(late),
      "signature tables diverge between delete-early and delete-late")
    assert(annRows(early) == annRows(late),
      "ANN results diverge between delete-early and delete-late")
    // non-vacuous: the victims really were removed
    val victims = docVictims.as[Long].collect().toSet
    val kept = late.dedup.read().get.select("doc_id").as[Long].collect().toSet
    assert(victims.nonEmpty && victims.forall(v => !kept.contains(v)))
  }

  test("streamed packing end state equals the graded batch query's assignment") {
    val t = mkQuad("parity")
    (0L to 2L).foreach(i => runBatch(t, batch(i), i))
    val got = Packing.readPacked(spark, t.pack).get
      .select("source", "doc_id", "tok", "pack_id", "pack_off")
      .collect().map(_.toString).sorted.toSeq
    val want = SparkEntry.queries("q_pack_sequences")(spark, dir)
      .select("source", "doc_id", "tok", "pack_id", "pack_off")
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
  }
}
