package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Scalars
import graft.model.PetSchema
import graft.operators.{Export, Relational}
import graft.streaming.KeyedTable

/** The reference's three lifecycles (SURVEY.md §3, §7.1) composed from the
  * engine's combinators — the facade a user of the reference switches to:
  *
  *  - [[ingestBatch]] = links → validate → merge of the links not yet
  *    stored (`scraping_loop` body, server.py:318-404 +
  *    pet_scraper.py:364-466);
  *  - [[compact]] = verification delete-by-predicate + counts
  *    (`verify_all_pets`, server.py:226-315);
  *  - [[serve]] / [[exportCsv]] = the `GET /pets` / `GET /pets.csv` shapes
  *    (server.py:463-518).
  *
  * Batch-mode counterpart of `graft.streaming.Ingest` (which adds the
  * checkpointed unbounded source on top of the same merge).
  */
object Pipeline {

  /** Row validity — the reference's two ingest gates (F1 placeholder name,
    * F2 ≥50% missing fields) as one predicate over the pets shape (resolved
    * against whatever frame it is applied to).
    */
  val ingestValid: Column = {
    val checked = PetSchema.checkedColumns.map(col)
    !Scalars.lowerTrim(col("name")).isin("dog", "cat") &&
      Relational.nullRatioKeep(checked, 0.5)
  }

  /** One ingest batch: keep only NEW links (J3 — "check before scraping to
    * save time"), validate (F1+F2), merge survivors by key (J4), one row
    * per link. Existing keys are untouched — the reference's loop skips
    * known links before scraping; in-place UPDATES flow through the
    * verification/merge path (KeyedTable.merge), not ingest.
    */
  def ingestBatch(existing: DataFrame, batch: DataFrame): DataFrame =
    ingested(Some(existing), batch)

  /** Same ingest semantics into a versioned [[KeyedTable]] (atomic publish,
    * S5): one [[KeyedTable.commit]], so the ingest reads one snapshot — one
    * batch, one new snapshot version, idempotent per `batchId`.
    */
  def ingestBatch(table: KeyedTable, batch: DataFrame, batchId: Long): Unit =
    table.commit(batchId)(ingested(_, batch))

  /** The one definition of an ingest batch against snapshot `existing`:
    * validate, dedup within the batch, then one join that appends only the
    * links `existing` lacks ([[Relational.insertNew]]).
    */
  private def ingested(existing: Option[DataFrame], batch: DataFrame): DataFrame = {
    val fresh = KeyedTable.latestPerKey(batch.filter(ingestValid), "link", None)
    existing.fold(fresh)(Relational.insertNew(_, fresh, "link"))
  }

  /** Verification compaction: a row survives iff fewer than 3 of the 15
    * checked fields are missing (verify.py:9-37, threshold
    * pet_scraper.py:549-568). Returns (survivors, summary{remaining,
    * removed, total}).
    */
  def compact(df: DataFrame): (DataFrame, DataFrame) = {
    val valid = Relational.fieldFailureValid(PetSchema.checkedColumns.map(col), 3)
    (Relational.deleteSurvivors(df, valid), Relational.compactionSummary(df, valid))
  }

  /** The `GET /pets` serving shape: total count stamped on every row,
    * deterministic key order (S7).
    */
  def serve(df: DataFrame): DataFrame =
    df.crossJoin(broadcast(df.agg(count(lit(1)).as("total_count"))))
      .select(col("total_count") +: PetSchema.columns.map(col): _*)
      .orderBy("link")

  /** The `GET /pets.csv` download (S8): declared order, encoded bools,
    * escaped newlines, header.
    */
  def exportCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit =
    Export.writeCsv(df, path, PetSchema.columns, PetSchema.boolColumns, singleFile)
}
