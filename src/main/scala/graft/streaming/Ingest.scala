package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's ingestion loop (server.py:318-404) re-expressed as
  * Structured Streaming — the architecturally central piece of the port
  * (SURVEY.md §2.9):
  *
  *  - T1 unbounded paged source: pages 1..10000 × {dog,cat} enumerated
  *    forever (server.py:347-399) → here any streaming DataFrame of keyed
  *    updates; [[pagedSource]] builds the (page, pet_type) enumeration from
  *    the rate source, whose offsets are exactly the reference's
  *    (page, pet_type) checkpoint cursor.
  *  - T2 per-batch checkpoint commit (server.py:377-378) →
  *    `checkpointLocation` offsets/commits, written by the engine per
  *    micro-batch.
  *  - T3 resume mid-stream (server.py:324-345) → restart with the same
  *    checkpoint dir replays only uncommitted batches; the versioned sink
  *    skips already-published batch ids.
  *  - T4 idempotent keyed sink (pet_scraper.py:410-466 + server.py:194-207)
  *    → foreachBatch { merge into [[KeyedTable]] } — at-least-once delivery
  *    × idempotent merge = effectively exactly-once table state.
  *  - T5 rate limiting (server.py:212, 296) → Trigger.ProcessingTime +
  *    source-side rows-per-second caps.
  *  - T6 start/stop/status (server.py:425-446) → [[IngestControl]] over
  *    `StreamingQuery.status` / `lastProgress` / `stop`.
  *  - T7 interleaved maintenance epoch (server.py:384-398) → [[compact]],
  *    a batch pass over the published snapshot between streaming epochs.
  *  - T8 error quarantine (server.py:214-216) → invalid rows split off and
  *    appended to a quarantine path inside the same batch; the batch
  *    continues.
  */
object Ingest {

  /** T1/T5: the unbounded (page, pet_type) enumeration as a streaming source.
    * Rate-source offsets make the cursor checkpointable, exactly like the
    * reference's saved (page, pet_type) JSON (server.py:96-161); `rps` caps
    * throughput (T5). Pages wrap at `maxPage` (server.py:350's 1..10000 then
    * wrap — the modulo below).
    */
  def pagedSource(spark: SparkSession, rps: Int = 2, maxPage: Int = 10000): DataFrame =
    spark.readStream
      .format("rate")
      .option("rowsPerSecond", rps)
      .load()
      .select(
        ((col("value") / 2) % maxPage + 1).cast("int").as("page"),
        when(col("value") % 2 === 0, "dog").otherwise("cat").as("pet_type"),
        col("timestamp").as("fetched_at"))

  /** Start the ingestion stream: quarantine invalid rows (T8), then keyed
    * merge of the survivors into `table` (T4), checkpointed at
    * `checkpointDir` (T2/T3), throttled by `trigger` (T5).
    *
    * @param valid row predicate; rows failing it go to `quarantineDir`
    *              instead of the table (the reference logs-and-skips,
    *              server.py:214-216 — we keep the evidence).
    * @param seqCol intra-batch conflict order (highest wins) when the source
    *               can emit one key twice in a batch.
    */
  def start(
      updates: DataFrame,
      table: KeyedTable,
      checkpointDir: String,
      valid: org.apache.spark.sql.Column,
      quarantineDir: Option[String] = None,
      seqCol: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // One replay guard for the WHOLE batch effect (quarantine + merge):
        // foreachBatch is at-least-once, and a quarantine append outside
        // the commit would double-count invalid rows on crash-replay.
        val marked = batch.withColumn("__valid", valid).persist()
        try table.commit(batchId) { prev =>
          quarantineDir.foreach { qd =>
            val bad = marked.filter(!col("__valid")).drop("__valid")
            if (!bad.isEmpty)
              // per-batch directory + overwrite → a replay after a crash
              // between this write and the pointer swap rewrites the same
              // files instead of appending duplicates
              bad.write.mode("overwrite").parquet(s"$qd/batch=$batchId")
          }
          KeyedTable.upsert(prev, marked.filter(col("__valid")).drop("__valid"),
            table.key, seqCol)
        } finally marked.unpersist()
        ()
      }
      .start()

  /** Streaming exact dedup (the streaming form of J1/J3 and of the batch
    * dedup family): watermarked `dropDuplicates` on the key — Spark keeps
    * one state entry per key inside the watermark horizon and drops replays,
    * which is the reference's "skip links already present" probe
    * (server.py:198-207) done with engine state instead of a table scan.
    * State is bounded by the watermark: keys older than `horizon` are
    * evicted (at-least-once upstream of the idempotent keyed sink is fine —
    * the merge dedups anything that outlives the horizon).
    */
  def dedupStream(updates: DataFrame, key: String, tsCol: String,
      horizon: String = "1 hour"): DataFrame =
    updates.withWatermark(tsCol, horizon).dropDuplicatesWithinWatermark(key)

  /** T7: the maintenance epoch — delete-by-predicate compaction over the
    * published snapshot (server.py:226-315), republished atomically as a new
    * version. Runs between streaming epochs (caller stops/starts the query,
    * as the reference interleaves verify-all with scraping).
    *
    * One Spark job: the survivor write carries the (kept, total) counts as
    * observed metrics, so the snapshot is scanned once and never cached. A
    * row whose `keep` is null counts as dropped, as the filter drops it.
    * The read and the publish form one writer section of the table, so a
    * concurrent batch commit lands before or after the compaction, never
    * under it.
    */
  def compact(table: KeyedTable, keep: org.apache.spark.sql.Column): Option[(Long, Long)] =
    table.locked {
      table.read().map { df =>
        val obs    = Observation()
        val marked = df.withColumn("__keep", keep)
          .observe(obs, count(when(col("__keep"), 1)).as("kept"), count(lit(1)).as("total"))
        // snapshot versions are the table's own counter — a compaction between
        // micro-batches can never collide with the stream's batch ids
        table.publish(marked.filter(col("__keep")).drop("__keep"))
        // the metrics land when the write's execution ends; read them after
        val counts = obs.get
        val kept   = counts("kept").asInstanceOf[Long]
        (kept, counts("total").asInstanceOf[Long] - kept)
      }
    }

  /** T7 outer loop, one turn: drain everything currently available from the
    * source (Trigger.AvailableNow — the "pages 1..10000" sweep), then run the
    * verification compaction — the reference's scrape-epoch → verify-all →
    * wrap cycle (server.py:384-398). Returns (kept, dropped) from the
    * compaction. Call repeatedly for the infinite loop; the checkpoint makes
    * each call resume where the last stopped.
    */
  def runEpoch(
      updates: DataFrame,
      table: KeyedTable,
      checkpointDir: String,
      valid: org.apache.spark.sql.Column,
      keep: org.apache.spark.sql.Column,
      quarantineDir: Option[String] = None,
      seqCol: Option[String] = None): (Long, Long) = {
    val q = start(updates, table, checkpointDir, valid, quarantineDir, seqCol,
      trigger = Trigger.AvailableNow())
    q.awaitTermination()
    compact(table, keep).getOrElse((0L, 0L))
  }

  /** T6: start/stop/status introspection — the `GET /status` analog
    * (server.py:425-428) over the engine's own query handle.
    */
  final case class IngestStatus(
      active: Boolean,
      batchId: Option[Long],
      numInputRows: Option[Long],
      message: String)

  final class IngestControl(query: StreamingQuery) {
    def status: IngestStatus = {
      val p = Option(query.lastProgress)
      IngestStatus(
        active = query.isActive,
        batchId = p.map(_.batchId),
        numInputRows = p.map(_.numInputRows),
        message = query.status.message)
    }
    def stop(): Unit                          = query.stop()
    def awaitTermination(ms: Long): Boolean   = query.awaitTermination(ms)
    def processAllAvailable(): Unit           = query.processAllAvailable()
  }
}
