package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.DedupQueries

/** Incremental near-dup detection: each batch of NEW documents is checked
  * against the already-indexed corpus WITHOUT reprocessing any old text —
  * the streaming form of the E1b minhash family, and the move that makes
  * dedup affordable at 100 TB (a batch costs O(batch + touched buckets),
  * not O(corpus text) — the expensive stages, shingling and the 8-minhash
  * aggregation, run once per document ever).
  *
  * State is two co-located stores under the signature table's directory:
  *
  *  - a [[KeyedTable]] of signature rows (doc_id, m0..m7, sz) — ~40 bytes
  *    per document — merged through the table's replay-guarded
  *    [[KeyedTable.commit]], so a replayed micro-batch neither duplicates
  *    signatures nor re-emits pairs;
  *  - a band-row INDEX at `<dir>/bands`: the 4 (band, bh) rows per
  *    signature, written once when the document is first indexed, as a
  *    [[Layers]] store partitioned by pb = hash(bh) mod [[BandBuckets]]
  *    within each batch layer. A micro-batch collects the ≤[[BandBuckets]]
  *    pb values its own band hashes fall into and reads ONLY those
  *    partitions (partition pruning, pinned by the spec) — never an
  *    O(corpus) re-derivation of every stored signature's bands. A crash
  *    between the band write and the signature merge replays onto the
  *    same layer ([[Layers.append]]).
  *
  * A (band, bh) bucket lies wholly inside one pb partition (pb is a
  * function of bh alone), so for every bucket containing at least one new
  * document the pruned read still sees the bucket's FULL stored
  * membership — the hot-bucket cap and the pair set are identical to the
  * signature-table-scan form. Candidate pairs expand only inside capped
  * (band, bh) buckets (the same MaxBucket guard as the batch queries),
  * keeping only pairs that touch at least one new document — stored×stored
  * pairs were already reported by the batches that introduced them.
  *
  * The band index is append-only: re-indexing a document whose TEXT changed
  * leaves its old band rows in place, so candidates against the previous
  * text's buckets may surface; candidates are verified downstream (the same
  * contract as LSH's own false positives), and [[compactBands]] rebuilds
  * the index from the signature table to restore exactness (and fold the
  * per-batch partition layers) as a between-batches maintenance step.
  *
  * Cap semantics are AS-OF-BATCH, necessarily: the hot-bucket cap sees the
  * bucket's population at processing time, so a bucket that later grows past
  * MaxBucket keeps the pairs it emitted while small (the batch query,
  * seeing the final population, would suppress them all). Equality with the
  * batch pair set therefore holds exactly when no bucket crosses the cap
  * between batches — true of real corpora (the cap exists for degenerate
  * boilerplate buckets, which are degenerate from the start) and asserted
  * by the parity spec on the test corpus.
  */
object IncrementalDedup {

  /** Band-index partition fan-out: pb = pmod(xxhash64(bh), this). Bounds the
    * per-batch partition listing at a constant; at deployment scale grows
    * like the corpus over the target partition size (same sizing rule as
    * every other bucketed store here).
    */
  private[graft] val BandBuckets = 64

  /** (doc_id, m0..m7, sz) minhash signatures of raw (doc_id, text) rows. */
  def signaturesOf(docs: DataFrame): DataFrame =
    DedupQueries.signatures(DedupQueries.shingleRows(docs))

  private[graft] def bandsPath(table: KeyedTable): String = table.dir + "/bands"

  /** The band-bucket partition column — single-sourced: the writer
    * (processBatch, compactBands) and the touched-bucket pruning read the
    * SAME derivation, or compacted rows would land in partitions the probe
    * never reads (a silent false-negative, not an error).
    */
  private[graft] def withPb(df: DataFrame): DataFrame =
    df.withColumn("pb", pmod(xxhash64(col("bh")), lit(BandBuckets)).cast("int"))

  /** Stored band rows, PRUNED to the pb partitions in `touched` (partition
    * pruning — the scan lists and reads only those directories); rows of
    * `batchId` itself are excluded so a crash-replay's own leftover rows
    * never count as "stored".
    */
  private[graft] def storedBands(spark: org.apache.spark.sql.SparkSession,
                                 bands: String, touched: Seq[Int], batchId: Long): DataFrame =
    Layers.readExcept(spark, bands, batchId)
      .filter(col("pb").isin(touched: _*))
      .select(col("doc_id"), col("band"), col("bh"), lit(false).as("is_new"))

  // ---- document deletes -------------------------------------------------
  //
  // The index's takedown path, mirroring AnnIndex's tombstones: the
  // SIGNATURE table is the source of truth (the delete removes its rows
  // through the table's commit), but the append-only band index still
  // holds the deleted docs' rows until the next [[compactBands]] — so a
  // tombstone layer under `<dir>/tombs` hides them from the stored-side
  // probe immediately (a broadcast anti-join, bounded by deletes since the
  // last compaction). compactBands rebuilds the bands from the now-clean
  // signature table and clears the tombstones.

  private[graft] def tombsPath(table: KeyedTable): String = table.dir + "/tombs"

  /** The current tombstone set, if any. */
  private def tombstones(table: KeyedTable): Option[DataFrame] =
    Layers.read(table.session, tombsPath(table)).map(_.select("doc_id").distinct())

  /** Remove `ids` (any frame with a `doc_id` column) from the index under
    * `batchId`: one [[KeyedTable.commit]] that writes the tombstone layer,
    * then publishes the signatures without the deleted docs. Replay-safe:
    * an applied id is skipped, and a crash between the tombstone write and
    * the publish rewrites the same layer on replay. An index with no
    * signatures yet publishes an empty signature table, so the delete's id
    * is recorded like an empty first batch's.
    */
  def deleteDocs(table: KeyedTable, ids: DataFrame, batchId: Long): Unit =
    table.commit(batchId) { prev =>
      val gone = ids.select("doc_id").distinct()
      Layers.append(gone, tombsPath(table), batchId)
      prev.fold(signaturesOf(gone.select(col("doc_id"), lit("").as("text"))))(
        _.join(broadcast(gone), Seq("doc_id"), "left_anti"))
    }

  /** Rebuild the band index from the CURRENT signature table — the
    * maintenance compaction the index's append-only growth calls for: drops
    * band rows from re-indexed documents' previous texts (the documented
    * staleness source) and folds the per-batch partitions into one layer.
    *
    * Crash-safety is generational ([[Layers.fold]]), never in-place:
    * sweeping ALL superseded layers (old generations included) is what
    * drops stale re-index rows, and a crashed sweep's survivors are
    * duplicate/stale rows the per-bucket dedup-and-verify path tolerates.
    * (An in-place overwrite of one fixed layer id would delete an old
    * partition before its replacement renames in — a crash window that
    * LOSES rows whose only copy was the previous compaction's output.)
    * It runs inside the table's writer section, as every band write does,
    * so it never sweeps a band layer whose signatures it did not read.
    */
  def compactBands(table: KeyedTable): Unit = table.locked {
    table.read().foreach { sig =>
      Layers.fold(table.session, bandsPath(table), sweep = true, "pb")(
        Some(withPb(DedupQueries.bandRows(sig))))
      // the rebuild came from the post-delete signature table, so the
      // tombstones are folded in — clear their layers (a crash before this
      // leaves tombstones whose anti-join is a no-op over clean bands)
      Layers.clear(table.session, tombsPath(table))
    }
  }

  /** Index `docs` (doc_id, text, ...) under `batchId` and return the near-dup
    * candidate pairs (a, b) this batch creates against the corpus-so-far
    * (including within-batch pairs); `is_new_b` marks within-batch pairs.
    * Replay-safe: an already-applied batchId returns no pairs and leaves the
    * table untouched; the signature merge is the table's
    * [[KeyedTable.merge]], so the batch commits through its replay guard.
    *
    * The returned frame is persisted (it must be materialized before the
    * signature merge supersedes the snapshot it reads) — the CALLER owns the
    * cache and should `unpersist()` it once consumed, or a long-running
    * pipeline accumulates one cached dataset per batch until LRU eviction.
    */
  def processBatch(table: KeyedTable, docs: DataFrame, batchId: Long): DataFrame = {
    val sig0 = signaturesOf(docs)
    if (table.alreadyApplied(batchId))
      return sig0.select(col("doc_id").as("a"), col("doc_id").as("b"),
        lit(false).as("is_new_b")).limit(0)
    // the signature pipeline (shingling + the 8-minhash aggregation) is the
    // batch's most expensive stage and feeds BOTH the band rows and the
    // merge below — persist it so the merge's publish reuses the computed
    // signatures instead of re-shingling the raw docs a second time
    val sig = sig0.persist()
    // the band append, the probe and the merge form one writer section of
    // the table, so a compactBands cannot fold between them
    try table.locked(processBatchFrom(table, sig, batchId))
    finally { sig.unpersist(); () }
  }

  /** [[processBatch]] body over an already-persisted signature frame; the
    * try/finally in the caller releases `sig` and the local `newBands` even
    * when a write, count, or the merge throws mid-batch (the ADVICE-r7 leak
    * discipline — foreachBatch RETRIES a failed batch, so a leaked persist
    * per retry would accumulate until LRU pressure).
    */
  private def processBatchFrom(table: KeyedTable, sig: DataFrame,
      batchId: Long): DataFrame = {
    val spark = sig.sparkSession
    val newBands = withPb(DedupQueries.bandRows(sig)).persist()
    try {
    // the touched-partition list: ≤ BandBuckets ints — a bounded driver
    // collect (the pruning predicate, not data)
    val touched = newBands.select("pb").distinct().collect().map(_.getInt(0)).toSeq
    val bands = bandsPath(table)
    if (touched.nonEmpty) Layers.append(newBands, bands, batchId, "pb")
    val newTagged = newBands.select(col("doc_id"), col("band"), col("bh"), lit(true).as("is_new"))
    // an all-short-docs (or empty) batch has no band rows: nothing to probe,
    // and the bands dir may not exist yet (reading it would fail schema
    // inference on a parquet-less directory) — the batch still merges, so
    // its id is recorded as applied
    val allBands = if (touched.isEmpty) newTagged
      else {
        // deleted docs leave the stored-side probe immediately (tombstones
        // are bounded by deletes since the last compaction — broadcast
        // anti-join); constructed only here: with no touched partitions the
        // bands dir may not exist yet and must not be read
        val stored0 = storedBands(spark, bands, touched, batchId)
        tombstones(table).fold(stored0)(t =>
          stored0.join(broadcast(t), Seq("doc_id"), "left_anti"))
          .unionByName(newTagged)
      }
    val pairs = allBands
      // one row per (bucket, doc): a re-indexed doc appears with BOTH tags
      // and must not count twice toward the bucket cap
      .groupBy(col("band"), col("bh"), col("doc_id"))
      .agg(max(col("is_new")).as("is_new"))
      .groupBy("band", "bh")
      .agg(array_sort(collect_set(struct(col("doc_id"), col("is_new")))).as("ms"))
      .filter(size(col("ms")).between(2, DedupQueries.MaxBucket))
      .select(explode(graft.expressions.PairStructs
        .pairStructs(col("ms"), "x", "y")).as("p"))
      // a == b can only mean a re-indexed doc colliding with its own stored
      // signature — not a near-dup pair
      .filter(col("p.x.doc_id") =!= col("p.y.doc_id"))
      .filter(col("p.x.is_new") || col("p.y.is_new"))
      .groupBy(col("p.x.doc_id").as("a"), col("p.y.doc_id").as("b"))
      .agg((max(col("p.x.is_new")) && max(col("p.y.is_new"))).as("is_new_b"))
      .persist()
    // materialize BEFORE the merge: `pairs` lazily reads the pre-merge
    // snapshot, which later merges (and snapshot GC) may delete
    pairs.count()
    table.merge(sig, batchId)
    pairs
    } finally { newBands.unpersist(); () }
  }
}
