package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{array, col, sin}

import graft.model.PetSchema
import graft.operators.AnnIndex
import graft.queries.{SimilarityQueries => SQ}
import graft.streaming.{Head, IncrementalDedup, Ingest, KeyedTable, Packing, Sketches}

/** The replay guard of every batch writer, one table: each writer applies a
  * batch id, then a FRESH [[KeyedTable]] instance on the same directory
  * (a restarted driver) is sent the same id again — the foreachBatch
  * replay after crash-resume. The replay must run no Spark job (not even a
  * snapshot's schema inference) and publish nothing: the table's
  * `latestVersion` stays where it was. For the non-idempotent stores (CMS,
  * DSIR, histogram, domain and hourly sums) this guard is the exactly-once
  * guarantee.
  *
  * The ANN index stores keep the same guard in their own heads
  * (`Layers.appendOnce`): each of their writers is replayed the same way,
  * and the store's head version must not move.
  */
class CommitReplaySpec extends SparkTestBase {

  import CommitReplaySpec.{IndexWriter, Writer}
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"replay_$tag").toString

  private val text = "the quick brown fox jumps over the lazy dog again and again"

  private lazy val docs: DataFrame = Seq(
    (1L, "src0", "en", text, text.length.toLong),
    (2L, "src0", "de", text + " tail", text.length + 5L),
    (3L, "src1", "en", "completely unrelated words forming another doc", 46L))
    .toDF("doc_id", "source", "lang", "text", "n_chars")

  private lazy val events: DataFrame = Seq(
    ("click", Timestamp.valueOf("2024-01-01 00:10:00")),
    ("click", Timestamp.valueOf("2024-01-01 01:20:00")),
    ("view", Timestamp.valueOf("2024-01-01 01:30:00")))
    .toDF("event_type", "ts")

  private lazy val pets: DataFrame = {
    def pet(link: String, name: String): Row = Row.fromSeq(
      Seq(link, "dog", name) ++ (1 to 6).map(i => s"d$i") ++
        Seq(true, false, true, false, true, false) ++ Seq("about", "img"))
    spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(pet("L1", "Rex"), pet("L2", "Mia"))), PetSchema.schema)
  }

  /** One checkpointed `Ingest.start` run over `srcDir` into `table`. Each
    * call starts from a new checkpoint, so its first micro-batch is batch 0
    * again — from the table's side, a replay of an applied id.
    */
  private def ingestEpoch(table: KeyedTable, srcDir: String): Unit = {
    val q = Ingest.start(
      updates = spark.readStream.schema(pets.schema).parquet(srcDir),
      table = table,
      checkpointDir = tmp("ckpt"),
      valid = Pipeline.ingestValid,
      quarantineDir = Some(tmp("quarantine")))
    try q.processAllAvailable() finally q.stop()
  }

  private lazy val petsDir: String = {
    val d = tmp("pets-src")
    pets.coalesce(1).write.mode("overwrite").parquet(d)
    d
  }

  private def same(name: String, key: String)(write: KeyedTable => Unit): Writer =
    Writer(name, key, write, write)

  private val writers: Seq[Writer] = Seq(
    same("KeyedTable.merge", "link")(_.merge(pets, 0L)),
    same("Pipeline.ingestBatch", "link")(Pipeline.ingestBatch(_, pets, 0L)),
    same("Sketches.updateCms", "bucket")(Sketches.updateCms(_, docs, 0L)),
    same("Sketches.updateBloom", "pos")(Sketches.updateBloom(_, docs, 0L)),
    same("Sketches.updateHll", "j")(Sketches.updateHll(_, docs, 0L)),
    same("Sketches.updateScoreHist", "bucket")(Sketches.updateScoreHist(_, docs, 0L)),
    same("Sketches.updateDsirModel", "bucket")(Sketches.updateDsirModel(_, docs, 0L)),
    same("Sketches.updateNovelty", "shingle")(Sketches.updateNovelty(_, docs, 0L)),
    same("Sketches.updateDomains", "domain")(Sketches.updateDomains(_, docs, 0L)),
    same("Sketches.updateHourly", "hr")(Sketches.updateHourly(_, events, 0L)),
    same("Packing.updatePacked", "source")(Packing.updatePacked(_, docs, 0L)),
    Writer("IncrementalDedup.deleteDocs", "doc_id",
      t => {
        IncrementalDedup.processBatch(t, docs, 0L).unpersist()
        IncrementalDedup.deleteDocs(t, docs.filter(col("doc_id") === 1L), 1L)
      },
      IncrementalDedup.deleteDocs(_, docs.filter(col("doc_id") === 1L), 1L)),
    same("Ingest.start", "link")(ingestEpoch(_, petsDir)))

  writers.foreach { w =>
    test(s"${w.name}: a replayed id on a fresh instance runs no job and publishes nothing") {
      val dir = tmp(w.name)
      w.setup(new KeyedTable(spark, dir, w.key))
      val fresh  = new KeyedTable(spark, dir, w.key)
      val before = fresh.latestVersion()
      assert(before.nonEmpty, "setup published nothing; the replay would be vacuous")
      val (_, jobs) = jobsDuring(w.replay(fresh))
      assert(jobs.isEmpty, s"the replay ran ${jobs.size} Spark job(s)")
      assert(fresh.latestVersion() == before, "the replay published a new version")
    }
  }

  /** Embeddings-shaped rows `from until until`, deterministic. */
  private def vectors(from: Long, until: Long): DataFrame =
    spark.range(from, until).select(col("id").as("vec_id"),
      array((1 to SQ.Dim).map(d => sin(col("id") * d)): _*).as("embedding"))

  private lazy val base   = AnnIndex.corpusOf(vectors(0, 200)).select("q")
  private lazy val cents  = SQ.trainCodebookFrom(base)
  private lazy val pqBook = SQ.trainPqFrom(base)

  private val indexWriters: Seq[IndexWriter] = Seq(
    IndexWriter("AnnIndex.deleteIds", "tombs", _ => (),
      AnnIndex.deleteIds(spark, _, vectors(0, 10), 0L)),
    IndexWriter("AnnIndex.appendBatch", "vectors",
      AnnIndex.buildFrom(spark, vectors(0, 200), cents, _),
      AnnIndex.appendBatch(spark, _, vectors(200, 260), 0L)),
    IndexWriter("AnnIndex.appendBatchLsh", "lsh",
      AnnIndex.buildLshFrom(vectors(0, 200), _),
      AnnIndex.appendBatchLsh(spark, _, vectors(200, 260), 0L)),
    IndexWriter("AnnIndex.appendBatchPq", "pqcodes",
      AnnIndex.buildIvfPqFrom(spark, vectors(0, 200), cents, pqBook, _),
      AnnIndex.appendBatchPq(spark, _, vectors(200, 260), 0L)))

  indexWriters.foreach { w =>
    test(s"${w.name}: a replayed id runs no job and publishes nothing") {
      val dir = tmp(w.name)
      w.build(dir)
      assert(w.write(dir), "the first write of the id was refused")
      def version = Head.read(spark, s"$dir/${w.store}").map(_.version)
      val before = version
      val (applied, jobs) = jobsDuring(w.write(dir))
      assert(!applied, "the replay was applied")
      assert(jobs.isEmpty, s"the replay ran ${jobs.size} Spark job(s)")
      assert(version == before, "the replay published a new head")
    }
  }
}

object CommitReplaySpec {

  /** A writer under test: `setup` applies batch id(s) through one
    * instance; `replay` re-sends an applied id through another.
    */
  final case class Writer(name: String, key: String,
      setup: KeyedTable => Unit, replay: KeyedTable => Unit)

  /** An index-store writer: `build` prepares the index dir, `write` sends
    * batch id 0 to the store under `<dir>/<store>` and returns whether it
    * was applied.
    */
  final case class IndexWriter(name: String, store: String,
      build: String => Unit, write: String => Boolean)
}
