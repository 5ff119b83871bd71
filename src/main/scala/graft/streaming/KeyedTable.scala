package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.operators.Relational

/** A keyed table with atomic-publish semantics — the engine's analog of the
  * reference's single CSV rewritten via tmp + fsync + os.replace
  * (pet_scraper.py:468-498, server.py:299-307).
  *
  * Layout: `dir/v<version>/` parquet snapshots plus a tiny `_LATEST` pointer
  * file, itself published atomically (tmp + rename-overwrite — the same
  * publish-then-swap the reference uses). The pointer carries BOTH the
  * current snapshot version and the highest APPLIED STREAMING BATCH id, as
  * one atomic unit: snapshot versions are a private monotonic counter
  * (compactions and merges both bump it), batch ids belong to the streaming
  * checkpoint — keeping them separate means a maintenance compaction between
  * two micro-batches can never collide with (and silently swallow) the next
  * batch's id. Readers resolve `_LATEST` and only ever see a fully-committed
  * snapshot; a crash mid-write leaves an unreferenced `v*` directory that
  * the next publish garbage-collects (the reference's orphan cleanup,
  * server.py:245-252).
  *
  * Scale posture: snapshots are plain parquet directories written by the
  * cluster; only the ~30-byte pointer file is written outside its tasks.
  *
  * Batch writes: [[commit]] is the one owner of the replay guard. Every
  * writer that records a streaming batch id (keyed [[merge]],
  * `Pipeline.ingestBatch`, the `Ingest.start` batch body, the sketch,
  * pack and signature stores) folds its batch into the snapshot through
  * it. Only `IncrementalDedup.processBatch` also reads the applied id, to
  * return its typed empty result early.
  *
  * Schema slot: a plain parquet read infers its schema with one
  * footer-reading job. Each instance keeps the `(version, schema)` of the
  * newest snapshot it wrote or read; [[publish]] fills it from the frame it
  * wrote, and a read of that version (the read-fold-publish loop of
  * [[commit]], serving right after a commit) reads with the kept schema and
  * runs no job. A version published by another instance misses the slot,
  * is inferred once, and becomes the slot. With one writer a version
  * directory is written once, before the pointer names it, so the slot
  * never goes stale.
  */
final class KeyedTable(spark: SparkSession, val dir: String, val key: String) {

  /** The session the store's filesystem ops resolve through — exposed for
    * the co-located stores (band index, pack layers) that share this
    * table's directory and must share its FileSystem view.
    */
  private[graft] def session: SparkSession = spark

  // all paths below are STRINGS resolved through the Hadoop FileSystem API
  // ([[Fs]]) — `file:`, `hdfs:`, or object-store paths all work (VERDICT
  // r7 #1); java.nio would pin the store to the driver's local disk
  private val pointer = dir + "/_LATEST"

  /** How many superseded snapshots survive each publish (in-flight readers
    * of the previous version keep working during the swap).
    */
  private val KeepSnapshots = 2

  Fs.mkdirs(spark, dir)

  /** (snapshot version, last applied batch id); batch id −1 = none yet. */
  private def pointerState(): Option[(Long, Long)] =
    Fs.readString(spark, pointer).map { content =>
      val parts = content.trim.split(" ")
      (parts(0).toLong, if (parts.length > 1) parts(1).toLong else -1L)
    }

  def latestVersion(): Option[Long] = pointerState().map(_._1)

  def read(): Option[DataFrame] = latestVersion().map(snapshot)

  /** (version, schema) of the newest snapshot this instance wrote or read. */
  @volatile private var schemaSlot: Option[(Long, StructType)] = None

  /** Plain parquet scan of version `v`: with the slot's schema when it holds
    * `v`, else inferred; an inferred version newer than the slot's fills it.
    */
  private def snapshot(v: Long): DataFrame = {
    val path = s"$dir/v$v"
    schemaSlot match {
      case Some((`v`, schema)) => spark.read.schema(schema).parquet(path)
      case held =>
        val df = spark.read.parquet(path)
        if (held.forall(_._1 < v)) schemaSlot = Some((v, df.schema))
        df
    }
  }

  /** True iff streaming batch `batchId` has already been applied — a
    * foreachBatch replay after crash-resume (T3/T4). Writers leave this
    * check to [[commit]].
    */
  def alreadyApplied(batchId: Long): Boolean =
    pointerState().exists(_._2 >= batchId)

  /** The replay-guarded commit of streaming batch `batchId`: resolve
    * `_LATEST` once; if the id is already applied (a foreachBatch replay)
    * return without building anything; else hand `fold` the snapshot AT
    * THAT VERSION (None before the first publish) and [[publish]] what it
    * returns under the id. `fold` may write a sidecar first (a pack or
    * tombstone layer, a quarantine directory): it runs after the guard and
    * before the pointer swap, so a crash between the two replays onto the
    * same sidecar. For a non-idempotent fold (addition) this guard is the
    * exactly-once guarantee.
    */
  def commit(batchId: Long)(fold: Option[DataFrame] => DataFrame): Unit =
    pointerState() match {
      case Some((_, applied)) if applied >= batchId => ()
      case state =>
        publish(fold(state.map { case (v, _) => snapshot(v) }), Some(batchId))
        ()
    }

  /** Write a full snapshot as the next version and atomically swing the
    * pointer (recording `batchId` when the write came from a streaming
    * batch). Parquet write is the cluster-side heavy path (Spark's commit
    * protocol already publishes the directory all-or-nothing); the pointer
    * swap is the reference's os.replace. The new version comes from this
    * call's own pointer read, not from the one [[commit]] folded against.
    * Superseded and orphaned snapshots beyond [[KeepSnapshots]] are deleted
    * best-effort afterwards.
    */
  def publish(df: DataFrame, batchId: Option[Long] = None): Long = {
    val state   = pointerState()
    val version = state.map(_._1 + 1).getOrElse(0L)
    val applied = batchId.orElse(state.map(_._2)).getOrElse(-1L)
    df.write.mode("overwrite").parquet(s"$dir/v$version")
    // the reference's os.replace, through the FileSystem abstraction
    Fs.publishString(spark, pointer, s"$version $applied", version)
    schemaSlot = Some((version, df.schema))
    gc(version)
    version
  }

  /** Best-effort removal of snapshot dirs older than `current - KeepSnapshots`
    * plus crash orphans NEWER than current (an interrupted publish that never
    * swung the pointer). Keeps exactly [[KeepSnapshots]] superseded versions
    * beside the current one — the documented window (the old `+ 1` variant
    * kept only one superseded snapshot, so two quick merges could delete a
    * version an in-flight reader resolved just before the first swap).
    */
  private def gc(current: Long): Unit =
    try
      Fs.childNames(spark, dir)
        .filter(_.matches("v\\d+"))
        .map(n => (n, n.drop(1).toLong))
        .filter { case (_, v) => v < current - KeepSnapshots || v > current }
        .foreach { case (n, _) => Fs.deleteRecursively(spark, s"$dir/$n") }
    catch { case _: Exception => () } // GC must never fail a publish

  /** What changed between two retained snapshot versions: one row per key
    * whose state differs — status `added` / `removed` / `changed`
    * (unchanged keys are dropped; `changed` compares the non-key columns
    * COMMON to both versions null-safely, so an additively-evolved column
    * doesn't mark every old row changed). The publish-audit shape: both
    * sides are plain snapshot scans full-outer-joined on the key, so the
    * diff distributes like the merge itself; each side is read like
    * [[read]] reads it (slot or inference). Versions older than
    * [[KeepSnapshots]] are GC'd — diff what you retain.
    */
  def diff(vOld: Long, vNew: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct, to_json, when}
    val o = snapshot(vOld).alias("o")
    val n = snapshot(vNew).alias("n")
    val common = o.columns.toSet.intersect(n.columns.toSet) - key
    val cols   = common.toSeq.sorted
    val oState = to_json(struct(cols.map(c => col(s"o.$c").as(c)): _*))
    val nState = to_json(struct(cols.map(c => col(s"n.$c").as(c)): _*))
    o.join(n, col(s"o.$key") === col(s"n.$key"), "full_outer")
      .select(
        org.apache.spark.sql.functions.coalesce(col(s"n.$key"), col(s"o.$key")).as(key),
        when(col(s"o.$key").isNull, lit("added"))
          .when(col(s"n.$key").isNull, lit("removed"))
          .when(oState =!= nState, lit("changed"))
          .as("status"))
      .filter(col("status").isNotNull)
  }

  /** Keyed upsert of one micro-batch (J4 semantics — pet_scraper.py:410-466):
    * [[commit]] of [[KeyedTable.upsert]] — replayed batch ids are skipped,
    * making the sink effectively exactly-once under foreachBatch's
    * at-least-once replay.
    */
  def merge(updates: DataFrame, batchId: Long, seqCol: Option[String] = None): Unit =
    commit(batchId)(KeyedTable.upsert(_, updates, key, seqCol))
}

object KeyedTable {

  /** `updates` folded into snapshot `prev` by `key` (or bootstrapping the
    * table when there is none), after [[latestPerKey]] — so the result
    * keeps one row per key.
    */
  private[graft] def upsert(prev: Option[DataFrame], updates: DataFrame, key: String,
      seqCol: Option[String]): DataFrame = {
    val deduped = latestPerKey(updates, key, seqCol)
    prev.fold(deduped)(Relational.upsertMerge(_, deduped, key))
  }

  /** One row per `key` of `updates` (server.py:207's intra-batch dedup):
    * highest `seqCol` wins when given, else an arbitrary-but-single row.
    */
  private[graft] def latestPerKey(updates: DataFrame, key: String,
      seqCol: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val order = seqCol.map(c => col(c).desc).getOrElse(col(key).asc)
    Relational.topKPerGroup(updates, Seq(col(key)), Seq(order), 1).drop("rn")
  }
}
