package graft.streaming

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The append-only layer store format shared by the ANN stores, the dedup
  * band index, both tombstone sets and the pack store — one owner, so a fix
  * to the protocol lands once.
  *
  * Layout: `<root>/batch=<id>/[<partCols>=<v>/]part-*` parquet plus the
  * store's [[Head]] (`_LATEST`; Spark readers skip `_`-prefixed files).
  * Streaming batch ids are ≥ 0; layer −1 is a full rebuild; compaction
  * generations take the next unused negative id. Every write records the
  * store schema in the head — the written columns, the layer and partition
  * columns among them with the types they had in the rows — and every read
  * scans with it, so no read infers a schema.
  *
  * Every write runs under the store's lock ([[Head.locked]]); a store
  * co-located under a [[KeyedTable]] is written inside the table's section
  * (lock order: table, then layer store). One writer process per store, as
  * for [[KeyedTable]].
  *
  * Crash and replay discipline:
  *  - [[append]] dynamically overwrites exactly its own `batch=<id>`
  *    partitions, so a replay after a crash between the layer write and
  *    the caller's commit rewrites the same rows instead of duplicating
  *    them. Callers whose commit is the store's own head use
  *    [[appendOnce]], the replay guard [[KeyedTable.commit]] uses; the band
  *    index, tombstones and pack store commit through their
  *    [[KeyedTable]]'s applied batch id instead.
  *  - [[rebuild]] statically overwrites the whole store as layer −1, which
  *    also deletes the old head, then publishes one with applied id −1.
  *  - [[fold]] reads, writes a fresh generation and only then sweeps every
  *    other layer, all in one locked section, so it never sweeps a layer
  *    appended after its read. A crash mid-write leaves staged files
  *    invisible and the old layers intact; a crash mid-sweep leaves the
  *    complete new layer plus survivors that each reader's own dedup rule
  *    makes read-equivalent.
  */
private[graft] object Layers {

  private val Col = "batch"

  /** Layer ids present under `root` (empty for a missing root). */
  def ids(spark: SparkSession, root: String): Seq[Long] =
    Fs.childNames(spark, root)
      .collect { case n if n.matches(s"$Col=-?\\d+") => n.drop(Col.length + 1).toLong }

  /** Write `rows` as layer `id` through `save`, then publish the head after
    * `h` with the written schema and `applied` (else `h`'s own id). The
    * caller holds the store's lock.
    */
  private def write(rows: DataFrame, root: String, id: Long, partCols: Seq[String],
      h: Option[Head.State], applied: Option[Long])(
      save: DataFrameWriter[Row] => Unit): Unit = {
    val layer = rows.withColumn(Col, lit(id))
    save(layer.write.partitionBy(Col +: partCols: _*))
    val version = h.map(_.version + 1).getOrElse(0L)
    Head.publish(rows.sparkSession, root, Head.State(version,
      applied.orElse(h.map(_.applied)).getOrElse(-1L), Map(version -> layer.schema)))
  }

  private def dynamicOverwrite(w: DataFrameWriter[Row], root: String): Unit =
    w.mode("overwrite").option("partitionOverwriteMode", "dynamic").parquet(root)

  /** Write `rows` as layer `batchId`, replacing only that layer's partitions. */
  def append(rows: DataFrame, root: String, batchId: Long, partCols: String*): Unit = {
    val spark = rows.sparkSession
    Head.locked(spark, root)(write(rows, root, batchId, partCols, Head.read(spark, root), None)(
      dynamicOverwrite(_, root)))
  }

  /** [[append]] under the store's own replay guard ([[Head.guarded]]):
    * false (and `rows` never built) for an already-applied id, else write
    * and record the id in the head.
    */
  def appendOnce(spark: SparkSession, root: String, batchId: Long,
      partCols: String*)(rows: => DataFrame): Boolean =
    Head.guarded(spark, root, batchId)(h =>
      write(rows, root, batchId, partCols, h, Some(batchId))(dynamicOverwrite(_, root)))

  /** Replace the whole store with `rows` as layer −1 and reset the applied id. */
  def rebuild(rows: DataFrame, root: String, partCols: String*): Unit =
    Head.locked(rows.sparkSession, root)(
      write(rows, root, -1L, partCols, None, Some(-1L))(_.mode("overwrite").parquet(root)))

  /** Generational compaction: inside the store's lock, evaluate `rows` (a
    * compaction's read of this store or of its source), write it as the
    * next unused negative layer, then (unless `sweep` is off — the crash
    * seam specs use) delete every other layer. No-op when `rows` is None.
    * The applied id is untouched.
    */
  def fold(spark: SparkSession, root: String, sweep: Boolean, partCols: String*)(
      rows: => Option[DataFrame]): Unit =
    Head.locked(spark, root) {
      rows.foreach { r =>
        val gen = ids(spark, root).filter(_ < 0).minOption.getOrElse(0L) - 1L
        write(r, root, gen, partCols, Head.read(spark, root), None)(_.mode("append").parquet(root))
        if (sweep) drop(spark, root, ids(spark, root).filter(_ != gen))
      }
    }

  /** Delete every layer under `root`, keeping the head. */
  def clear(spark: SparkSession, root: String): Unit =
    Head.locked(spark, root)(drop(spark, root, ids(spark, root)))

  private def drop(spark: SparkSession, root: String, layers: Seq[Long]): Unit =
    layers.foreach(v => Fs.deleteRecursively(spark, s"$root/$Col=$v"))

  /** Every layer's rows with the layer column, scanned with the head's
    * schema. The store must have a head.
    */
  def scan(spark: SparkSession, root: String): DataFrame =
    scanAt(spark, root, Head.read(spark, root)
      .getOrElse(throw new IllegalStateException(s"no store at $root")))

  private def scanAt(spark: SparkSession, root: String, h: Head.State): DataFrame =
    spark.read.schema(h.schema).parquet(root)

  /** Every layer's rows (layer column dropped); None when there are no
    * layers, or when no head names them yet (a first append that died
    * before its head publish).
    */
  def read(spark: SparkSession, root: String): Option[DataFrame] =
    if (ids(spark, root).isEmpty) None
    else Head.read(spark, root).map(scanAt(spark, root, _).drop(Col))

  /** Every layer's rows except layer `batchId`'s, pruned by directory — a
    * replay's own leftover layer is not yet "stored". The store must exist.
    */
  def readExcept(spark: SparkSession, root: String, batchId: Long): DataFrame =
    scan(spark, root).filter(col(Col) =!= lit(batchId)).drop(Col)
}
