package graft.streaming

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The append-only layer store format shared by the ANN stores, the dedup
  * band index, both tombstone sets and the pack store — one owner, so a fix
  * to the protocol lands once.
  *
  * Layout: `<root>/batch=<id>/[<partCols>=<v>/]part-*` parquet plus an
  * optional `_APPLIED` pointer (Spark readers skip `_`-prefixed files).
  * Streaming batch ids are ≥ 0; layer −1 is a full rebuild; compaction
  * generations take the next unused negative id.
  *
  * Crash and replay discipline:
  *  - [[append]] dynamically overwrites exactly its own `batch=<id>`
  *    partitions, so a replay after a crash between the layer write and
  *    the caller's commit rewrites the same rows instead of duplicating
  *    them. Callers whose commit is their own `_APPLIED` pointer use
  *    [[appendOnce]]; the band index and the pack store commit through
  *    their [[KeyedTable]]'s applied batch id instead.
  *  - [[rebuild]] statically overwrites the whole store as layer −1, which
  *    also deletes the old pointer, then resets it to −1.
  *  - [[fold]] writes a fresh generation and only then sweeps every other
  *    layer: a crash mid-write leaves staged files invisible and the old
  *    layers intact; a crash mid-sweep leaves the complete new layer plus
  *    survivors that each reader's own dedup rule makes read-equivalent.
  */
private[graft] object Layers {

  private val Col = "batch"

  private def appliedPtr(root: String) = root + "/_APPLIED"

  /** Layer ids present under `root` (empty for a missing root). */
  def ids(spark: SparkSession, root: String): Seq[Long] =
    Fs.childNames(spark, root)
      .collect { case n if n.matches(s"$Col=-?\\d+") => n.drop(Col.length + 1).toLong }

  private def writer(rows: DataFrame, id: Long, partCols: Seq[String]): DataFrameWriter[Row] =
    rows.withColumn(Col, lit(id)).write.partitionBy(Col +: partCols: _*)

  /** Write `rows` as layer `batchId`, replacing only that layer's partitions. */
  def append(rows: DataFrame, root: String, batchId: Long, partCols: String*): Unit =
    writer(rows, batchId, partCols).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(root)

  /** [[append]] guarded by the store's own `_APPLIED` pointer: false (and
    * `rows` never built) for an already-applied id, else write and mark.
    */
  def appendOnce(spark: SparkSession, root: String, batchId: Long,
      partCols: String*)(rows: => DataFrame): Boolean =
    if (lastApplied(spark, root) >= batchId) false
    else {
      append(rows, root, batchId, partCols: _*)
      markApplied(spark, root, batchId)
      true
    }

  /** Replace the whole store with `rows` as layer −1 and reset the pointer. */
  def rebuild(rows: DataFrame, root: String, partCols: String*): Unit = {
    writer(rows, -1L, partCols).mode("overwrite").parquet(root)
    markApplied(rows.sparkSession, root, -1L)
  }

  private def lastApplied(spark: SparkSession, root: String): Long =
    Fs.readString(spark, appliedPtr(root)).map(_.trim.toLong).getOrElse(-1L)

  private def markApplied(spark: SparkSession, root: String, batchId: Long): Unit =
    Fs.publishString(spark, appliedPtr(root), batchId.toString, batchId)

  /** Generational compaction: write `rows` as the next unused negative
    * layer, then (unless `sweep` is off — the crash seam specs use) delete
    * every other layer. The `_APPLIED` pointer is untouched.
    */
  def fold(rows: DataFrame, root: String, sweep: Boolean, partCols: String*): Unit = {
    val spark = rows.sparkSession
    val gen = ids(spark, root).filter(_ < 0).minOption.getOrElse(0L) - 1L
    writer(rows, gen, partCols).mode("append").parquet(root)
    if (sweep) drop(spark, root, ids(spark, root).filter(_ != gen))
  }

  /** Delete every layer under `root`, keeping the `_APPLIED` pointer. */
  def clear(spark: SparkSession, root: String): Unit = drop(spark, root, ids(spark, root))

  private def drop(spark: SparkSession, root: String, layers: Seq[Long]): Unit =
    layers.foreach(v => Fs.deleteRecursively(spark, s"$root/$Col=$v"))

  /** Every layer's rows (layer column dropped); None when there are no layers. */
  def read(spark: SparkSession, root: String): Option[DataFrame] =
    if (ids(spark, root).isEmpty) None
    else Some(spark.read.parquet(root).drop(Col))

  /** Every layer's rows except layer `batchId`'s, pruned by directory — a
    * replay's own leftover layer is not yet "stored". The store must exist.
    */
  def readExcept(spark: SparkSession, root: String, batchId: Long): DataFrame =
    spark.read.parquet(root).filter(col(Col) =!= lit(batchId)).drop(Col)
}
