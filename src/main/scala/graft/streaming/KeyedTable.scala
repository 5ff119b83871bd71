package graft.streaming

import java.nio.charset.StandardCharsets

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
  * cluster; only the ~30-byte pointer file is driver-side. With
  * `buckets = Some(n)` each snapshot is published as a bucketed+sorted
  * datasource table over the same `v<version>` directory (bucket metadata in
  * the session catalog, data files untouched), which removes the single most
  * expensive recurring shuffle in the engine (SURVEY §7.5 knob; VERDICT r3
  * next-step #4): the next [[merge]]'s full-outer join reads the snapshot
  * side already hash-partitioned on the key — only the (small) micro-batch
  * side shuffles, into the snapshot's n buckets — and the re-publish write
  * reuses that same partitioning, so the O(snapshot) data never crosses the
  * network again. Bucket metadata is catalog-scoped: after a restart the
  * first read falls back to a plain parquet scan (one shuffled merge) and
  * the next publish re-registers the bucketing.
  *
  * Schema slot: a plain parquet read infers its schema with one
  * footer-reading job. Each instance keeps the `(version, schema)` of the
  * newest snapshot it wrote or read; [[publish]] fills it from the frame it
  * wrote, and a read of that version (the read-merge-publish loop of
  * [[merge]], serving right after a commit) reads with the kept schema and
  * runs no job. A version published by another instance misses the slot,
  * is inferred once, and becomes the slot. With one writer a version
  * directory is written once, before the pointer names it, so the slot
  * never goes stale.
  */
final class KeyedTable(spark: SparkSession, val dir: String, val key: String,
                       buckets: Option[Int] = None) {

  /** The session the store's filesystem ops resolve through — exposed for
    * the co-located stores (band index, pack layers) that share this
    * table's directory and must share its FileSystem view.
    */
  private[graft] def session: SparkSession = spark

  // all paths below are STRINGS resolved through the Hadoop FileSystem API
  // ([[Fs]]) — `file:`, `hdfs:`, or object-store paths all work (VERDICT
  // r7 #1); java.nio would pin the store to the driver's local disk
  private val pointer = dir + "/_LATEST"

  /** Catalog-safe table name for a bucketed snapshot version — one namespace
    * entry per (table dir, version), derived from the dir so two KeyedTables
    * in one session can't collide.
    */
  private def tableName(version: Long): String = {
    val md  = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(dir.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
    s"graft_kt_${hex.take(8)}_v$version"
  }

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

  def read(): Option[DataFrame] =
    latestVersion().map { v =>
      if (buckets.isDefined && spark.catalog.tableExists(tableName(v)))
        spark.table(tableName(v)) // bucketed scan: HashPartitioning(key, n)
      else snapshot(v)
    }

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
    * foreachBatch replay after crash-resume (T3/T4).
    */
  def alreadyApplied(batchId: Long): Boolean =
    pointerState().exists(_._2 >= batchId)

  /** Write a full snapshot as the next version and atomically swing the
    * pointer (recording `batchId` when the write came from a streaming
    * batch). Parquet write is the cluster-side heavy path (Spark's commit
    * protocol already publishes the directory all-or-nothing); the pointer
    * swap is the reference's os.replace. Superseded and orphaned snapshots
    * beyond [[KeepSnapshots]] are deleted best-effort afterwards.
    */
  def publish(df: DataFrame, batchId: Option[Long] = None): Long = {
    val state   = pointerState()
    val version = state.map(_._1 + 1).getOrElse(0L)
    val applied = batchId.orElse(state.map(_._2)).getOrElse(-1L)
    buckets match {
      case Some(n) =>
        // external bucketed+sorted table over the version directory: a merge
        // output is already hash-partitioned on the key (the join required
        // it), so the bucketed write assigns files without another shuffle
        df.write.mode("overwrite")
          .option("path", s"$dir/v$version")
          .bucketBy(n, key).sortBy(key)
          .format("parquet")
          .saveAsTable(tableName(version))
      case None =>
        df.write.mode("overwrite").parquet(s"$dir/v$version")
    }
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
        .foreach { case (n, v) =>
          // external tables: DROP releases the catalog entry only; the
          // version directory is deleted explicitly below
          if (buckets.isDefined)
            spark.sql(s"DROP TABLE IF EXISTS ${tableName(v)}")
          Fs.deleteRecursively(spark, s"$dir/$n")
        }
    catch { case _: Exception => () } // GC must never fail a publish

  /** Keyed upsert of one micro-batch (J4 semantics — pet_scraper.py:410-466):
    * merge into the current snapshot (or bootstrap from the batch), publish
    * as the next snapshot version, record `batchId` as applied. Replayed
    * batch ids are skipped, making the sink effectively exactly-once under
    * foreachBatch's at-least-once replay. Intra-batch duplicate keys are
    * resolved before the merge (server.py:207's intra-batch dedup): highest
    * `seqCol` wins when given, else an arbitrary-but-single row per key.
    */
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

  def merge(updates: DataFrame, batchId: Long, seqCol: Option[String] = None): Unit = {
    if (alreadyApplied(batchId)) return
    import org.apache.spark.sql.functions.col
    val order   = seqCol.map(c => col(c).desc).getOrElse(col(key).asc)
    val deduped = Relational.topKPerGroup(updates, Seq(col(key)), Seq(order), 1).drop("rn")
    val merged = read() match {
      case Some(existing) => Relational.upsertMerge(existing, deduped, key)
      case None           => deduped
    }
    publish(merged, Some(batchId))
    ()
  }
}
