package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.operators.Relational

/** A keyed table with atomic-publish semantics — the engine's analog of the
  * reference's single CSV rewritten via tmp + fsync + os.replace
  * (pet_scraper.py:468-498, server.py:299-307).
  *
  * Layout: `dir/v<version>/` parquet snapshots plus the table's [[Head]]
  * (`_LATEST`), itself published atomically (tmp + rename-overwrite — the
  * same publish-then-swap the reference uses). The head carries the
  * current snapshot version, the highest APPLIED STREAMING BATCH id and
  * the schema of every retained version, as one atomic unit: snapshot
  * versions are a private monotonic counter (compactions and merges both
  * bump it), batch ids belong to the streaming checkpoint — keeping them
  * separate means a maintenance compaction between two micro-batches can
  * never collide with (and silently swallow) the next batch's id. Readers
  * resolve the head and only ever see a fully-committed snapshot, scanned
  * with the head's schema (no inference job); a crash mid-write leaves an
  * unreferenced `v*` directory that the next publish garbage-collects (the
  * reference's orphan cleanup, server.py:245-252).
  *
  * Scale posture: snapshots are plain parquet directories written by the
  * cluster; only the small head file is written outside its tasks.
  *
  * Writers: every write — [[commit]], [[publish]], `Ingest.compact` — runs
  * one locked section ([[Head.locked]]) that resolves the head, reads the
  * snapshot, writes the next version and publishes, so a compaction and a
  * stream's `foreachBatch` never fold against the same version. The
  * co-located stores under `dir` (band index, tombstones, packs) write and
  * compact inside this section. One writer PROCESS per table: the lock is
  * in-JVM (the [[Head]] scaladoc says why the local filesystem cannot
  * arbitrate between processes).
  *
  * Batch writes: [[commit]] is the one owner of the replay guard. Every
  * writer that records a streaming batch id (keyed [[merge]],
  * `Pipeline.ingestBatch`, the `Ingest.start` batch body, the sketch,
  * pack and signature stores) folds its batch into the snapshot through
  * it. Only `IncrementalDedup.processBatch` also reads the applied id, to
  * return its typed empty result early.
  */
final class KeyedTable(spark: SparkSession, val dir: String, val key: String) {

  /** The session the store's filesystem ops resolve through — exposed for
    * the co-located stores (band index, pack layers) that share this
    * table's directory and must share its FileSystem view.
    */
  private[graft] def session: SparkSession = spark

  /** How many superseded snapshots survive each publish (in-flight readers
    * of the previous version keep working during the swap).
    */
  private val KeepSnapshots = 2

  Fs.mkdirs(spark, dir)

  private def head(): Option[Head.State] = Head.read(spark, dir)

  def latestVersion(): Option[Long] = head().map(_.version)

  def read(): Option[DataFrame] = head().map(h => snapshot(h, h.version))

  /** Plain parquet scan of retained version `v` with its schema from `h`. */
  private def snapshot(h: Head.State, v: Long): DataFrame = {
    val schema = h.schemas.getOrElse(v,
      throw new IllegalArgumentException(s"version $v of $dir is not retained"))
    spark.read.schema(schema).parquet(s"$dir/v$v")
  }

  /** True iff streaming batch `batchId` has already been applied — a
    * foreachBatch replay after crash-resume (T3/T4). Writers leave this
    * check to [[commit]].
    */
  def alreadyApplied(batchId: Long): Boolean = head().exists(_.applied >= batchId)

  /** `body` inside the table's writer section — for the writers that
    * read and publish outside [[commit]] (`Ingest.compact`) and the
    * co-located stores' compactions.
    */
  private[graft] def locked[T](body: => T): T = Head.locked(spark, dir)(body)

  /** The replay-guarded commit of streaming batch `batchId`, one locked
    * section: resolve the head once; if the id is already applied (a
    * foreachBatch replay) return without building anything; else hand
    * `fold` the snapshot AT THAT VERSION (None before the first publish)
    * and publish what it returns under the id as the next version. `fold`
    * may write a sidecar first (a pack or tombstone layer, a quarantine
    * directory): it runs after the guard and before the head swap, so a
    * crash between the two replays onto the same sidecar. For a
    * non-idempotent fold (addition) this guard is the exactly-once
    * guarantee.
    */
  def commit(batchId: Long)(fold: Option[DataFrame] => DataFrame): Unit = {
    Head.guarded(spark, dir, batchId)(h =>
      write(h, fold(h.map(s => snapshot(s, s.version))), Some(batchId)))
    ()
  }

  /** Write a full snapshot as the next version and atomically swing the
    * head (recording `batchId` when the write came from a streaming batch),
    * inside the table's writer section.
    */
  def publish(df: DataFrame, batchId: Option[Long] = None): Long =
    locked(write(head(), df, batchId))

  /** Write `df` as the version after `h`'s and publish the head. Parquet
    * write is the cluster-side heavy path (Spark's commit protocol already
    * publishes the directory all-or-nothing); the head swap is the
    * reference's os.replace. Superseded and orphaned snapshots beyond
    * [[KeepSnapshots]] are deleted best-effort afterwards, and their
    * schemas leave the head.
    */
  private def write(h: Option[Head.State], df: DataFrame, batchId: Option[Long]): Long = {
    val version = h.map(_.version + 1).getOrElse(0L)
    val applied = batchId.orElse(h.map(_.applied)).getOrElse(-1L)
    df.write.mode("overwrite").parquet(s"$dir/v$version")
    val retained = h.map(_.schemas).getOrElse(Map.empty[Long, StructType])
      .filter { case (v, _) => v >= version - KeepSnapshots }
    Head.publish(spark, dir, Head.State(version, applied, retained + (version -> df.schema)))
    gc(version)
    version
  }

  /** Best-effort removal of snapshot dirs older than `current - KeepSnapshots`
    * plus crash orphans NEWER than current (an interrupted publish that never
    * swung the head). Keeps exactly [[KeepSnapshots]] superseded versions
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
    * diff distributes like the merge itself; each side is read with its
    * own schema from the head. Versions older than [[KeepSnapshots]] are
    * GC'd — diff what you retain.
    */
  def diff(vOld: Long, vNew: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct, to_json, when}
    val h = head().getOrElse(throw new IllegalStateException(s"$dir has no snapshot"))
    val o = snapshot(h, vOld).alias("o")
    val n = snapshot(h, vNew).alias("n")
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
