package graft.streaming

/** Streaming form of the E3n sequence packer (`q_pack_sequences`): a
  * per-source running token offset kept in keyed state, so documents are
  * assigned their context-window slot AS THEY ARRIVE — the shape a
  * continuously-ingesting training pipeline needs (the batch query re-packs
  * the whole corpus; this one extends the packing, old docs never
  * reprocessed, state one Long per source).
  *
  * Semantics: docs are packed in ARRIVAL order — batch by batch, doc_id
  * order within a micro-batch (the state API hands the group an unordered
  * iterator; sorting inside the batch makes replays deterministic). Feeding
  * the corpus in global doc_id order therefore reproduces the batch query's
  * assignment exactly, which is how the spec pins parity. Unlike the
  * event-time operators ([[Sessions.sessionizeEventTime]],
  * [[TemporalJoins.asofStream]]) there is no watermark hold-back: packing is
  * an ORDER-dependent fold, so the operator owns no reordering claim — a
  * pipeline that needs doc_id-ordered packs feeds an ordered stream (the
  * paged ingest source does).
  */
object Packing {

  final case class Packed(source: String, doc_id: Long, tok: Long,
      pack_id: Long, pack_off: Long)

  /** foreachBatch-protocol packing — the third member of the shared-batch
    * quartet (dedup index, CMS, packing, ANN) a training-data pipeline
    * updates per micro-batch. Pack assignments are IMMUTABLE once made, so
    * the storage splits the [[graft.streaming.IncrementalDedup]] way:
    *
    *  - the KeyedTable snapshot holds only the per-source NEXT-FREE OFFSETS
    *    (≤ #sources rows — bounded forever) plus the applied-batch pointer;
    *  - the assignments themselves land in an append-only [[Layers]] store
    *    (`<table.dir>/packs`), one layer per batch.
    *
    * Per-batch cost is therefore O(batch + #sources) regardless of stream
    * age — a snapshot that re-published every historical assignment would
    * pay O(history) write volume per batch.
    *
    * Crash/replay safety: the layer write and the offsets publish are one
    * [[KeyedTable.commit]], the owner of the replay guard, so an
    * already-applied id is a no-op; a crash BETWEEN the layer write and the
    * offsets publish heals on replay, which rewrites the same layer with
    * identical rows (offsets still reflect the pre-batch state until the
    * publish lands).
    *
    * Ordering contract (same as [[packStream]]): docs pack in arrival
    * order, doc_id order within a batch — a stream fed in doc_id order
    * reproduces the batch query exactly.
    */
  def updatePacked(table: KeyedTable, docs: org.apache.spark.sql.DataFrame, batchId: Long,
      budget: Long = graft.queries.TextQueries.PackBudget): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // each doc's token offset inside its source's share of this batch —
    // persisted because BOTH the layer write and the offset advance consume
    // it (the processBatch move); without it the per-source window runs
    // twice per batch. It does not depend on the snapshot, so it is cached
    // outside the commit and released after the publish.
    val local = docs
      .withColumn("tok", expr(s"cast(size(${graft.queries.Dialect.wordsSql}) as bigint)"))
      .select("source", "doc_id", "tok")
      .withColumn("local", coalesce(sum("tok").over(w), lit(0L)))
      .persist()
    // try/finally: a transient failure in the layer write or the publish
    // must not leak the cached batch — a long-running foreachBatch driver
    // retries batches, and an exception-path leak accumulates one cached
    // dataset per retry (ADVICE r7)
    try table.commit(batchId) { prev =>
      // next free offset per source: the tiny snapshot, not a history scan
      val prevBases = prev.map(_.select("source", "base"))
      val based = prevBases match {
        case Some(bases) =>
          local.join(broadcast(bases), Seq("source"), "left")
            .withColumn("base", coalesce(col("base"), lit(0L)))
        case None => local.withColumn("base", lit(0L))
      }
      val assigned = based
        .withColumn("off", col("base") + col("local"))
        .select(col("source"), col("doc_id"), col("tok"),
          expr(s"off div $budget").as("pack_id"),
          expr(s"off % $budget").as("pack_off"))
      Layers.append(assigned, packsPath(table), batchId)
      // new offsets = old bases advanced by this batch's token mass per source
      val batchEnds = assigned.groupBy("source")
        .agg(max(col("pack_id") * budget + col("pack_off") + col("tok")).as("end"))
      prevBases match {
        case Some(bases) =>
          bases.unionByName(batchEnds.select(col("source"), col("end").as("base")))
            .groupBy("source").agg(max("base").as("base"))
        case None => batchEnds.select(col("source"), col("end").as("base"))
      }
    } finally {
      local.unpersist()
      ()
    }
  }

  /** Fold the accumulated layers into one generation ([[Layers.fold]]) —
    * the small-files control a long-running packer schedules between
    * streaming epochs. A crashed sweep's survivors are exact duplicates of
    * new-layer rows, which [[readPacked]]'s per-doc dropDuplicates makes
    * read-equivalent. The offsets snapshot is untouched. Runs inside the
    * table's writer section, where every pack layer is appended, so no
    * layer lands between the fold's read and its sweep.
    */
  def compactPacks(spark: org.apache.spark.sql.SparkSession, table: KeyedTable): Unit =
    table.locked(Layers.fold(spark, packsPath(table), sweep = true)(readPacked(spark, table)))

  /** All pack assignments so far — the union of batch layers. The per-doc
    * dropDuplicates is exact (an assignment is immutable, so any cross-layer
    * duplicate left by a crashed compaction sweep is row-identical) and
    * keeps post-crash reads equivalent to the clean state.
    */
  def readPacked(spark: org.apache.spark.sql.SparkSession,
      table: KeyedTable): Option[org.apache.spark.sql.DataFrame] =
    Layers.read(spark, packsPath(table)).map(
      _.select("source", "doc_id", "tok", "pack_id", "pack_off")
        .dropDuplicates("source", "doc_id"))

  private def packsPath(table: KeyedTable): String = table.dir + "/packs"

  /** Input rows: (source, doc_id, token count). State per source: the next
    * free token offset. Works unchanged on batch datasets (state starts
    * empty), which gives the spec its one-shot parity check.
    */
  def packStream(
      docs: org.apache.spark.sql.Dataset[(String, Long, Long)],
      // default shared with the graded batch query — a retuned PackBudget
      // must move both, or batch-parity silently breaks for default callers
      budget: Long = graft.queries.TextQueries.PackBudget): org.apache.spark.sql.Dataset[Packed] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, Packed](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (src: String, rows: Iterator[(String, Long, Long)], state: GroupState[Long]) =>
          var off = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_._2).map { case (_, id, tok) =>
            val p = Packed(src, id, tok, off / budget, off % budget)
            off += tok
            p
          }
          state.update(off)
          out.iterator
      }
  }
}
