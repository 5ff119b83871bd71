package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver's read-only parquet test tables (TESTDATA.md).
  *
  * Every graded query takes `(spark, sfDir)` and reads only through here, so
  * the physical layout (one parquet file per table today; partitioned
  * directories at 100 TB) is isolated in one place. Each table behaves as a
  * catalog table: its schema is resolved once per file set ([[schemas]]) and
  * every later load reads with that declared schema, so building a query
  * launches no footer-reading job. The query code does not care.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key  = schemaKey(spark, path)
    // an unlistable path keeps the plain read, and with it Spark's own error
    if (key.isEmpty) spark.read.parquet(path)
    else {
      val schema = schemas.getOrElseUpdate(key, spark.read.parquet(path).schema)
      spark.read.schema(schema).parquet(path)
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  /** `events.ts` arrives in whatever physical flavor the generator used —
    * the three seen so far are normalized here to a session-zone TIMESTAMP so
    * every query downstream (`unix_micros`, window math) sees one type:
    *  - TIMESTAMP(NANOS): unreadable natively; with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set in LocalSpark) it
    *    arrives as a long we truncate to microseconds — exactly what DuckDB
    *    does reading the same file, so oracle parity holds;
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives TIMESTAMP_NTZ,
    *    which `unix_micros` rejects; cast to TIMESTAMP interprets the naive
    *    value in the session zone (pinned UTC in LocalSpark) — the same
    *    micros DuckDB's naive `epoch_us(ts)` yields;
    *  - TIMESTAMP(MICROS, adjusted): already the target type.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", df("ts").cast(TimestampType))
      case _                => df
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** All corpus tables by name, through their NORMALIZED accessors (events
    * gets its timestamp normalization, not the raw physical flavor).
    */
  val accessors: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region"     -> region _,
    "nation"     -> nation _,
    "customer"   -> customer _,
    "supplier"   -> supplier _,
    "part"       -> part _,
    "orders"     -> orders _,
    "lineitem"   -> lineitem _,
    "events"     -> events _,
    "documents"  -> documents _,
    "embeddings" -> embeddings _)

  /** Make the whole engine drivable from `spark.sql(...)`: register every
    * corpus table as a session temp view under its bare name, plus the
    * X-family scalar functions ([[graft.functions.Udfs]]) — the SQL twin of
    * the Tables accessors and the Column DSL. Views are lazy logical plans
    * over the SAME normalized loaders, so SQL and DataFrame users see
    * identical schemas (and pushdown/pruning work identically — a view is
    * not a materialization). Re-invocable: re-registering against another
    * sf dir just swaps the plans.
    */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    accessors.foreach { case (n, f) => f(spark, dir).createOrReplaceTempView(n) }
    graft.functions.Udfs.register(spark)
  }

  /** Split counts already computed by [[spread]], keyed by the scan's file
    * set: `df.rdd` triggers a FULL physical planning pass of the scan just
    * to read its partition count, and spread sits under every shingle-family
    * query — ~100 plannings per Verify/Bench run for the same three tables
    * (VERDICT r8 #5). The split count of a parquet scan is a function of its
    * files (paths AND lengths — a table rewritten in place under the same
    * names must not reuse a stale count, ADVICE r9) + the session's packing
    * confs + the slot count, so all of those fold into the memo key; one
    * planning per distinct (files, sizes, confs) tuple is exact.
    * `inputFiles` is a cheap logical-plan walk, no physical planning, and
    * the local `stat` per file is microseconds against the planning pass
    * the memo exists to avoid.
    */
  private val splitCounts = scala.collection.concurrent.TrieMap.empty[String, Int]

  /** Inferred schemas by [[schemaKey]]: `spark.read.parquet` runs one
    * footer-reading job per call, and every query build loads its tables.
    * The inferred schema is a function of the files (names, lengths,
    * modification times — a table rewritten in place is a new key) and of
    * the session confs in [[SchemaConfs]], so one inference per distinct
    * key is exact. Only the `StructType` is kept, never a frame or session.
    */
  private val schemas = scala.collection.concurrent.TrieMap.empty[String, StructType]

  /** Session confs that change what parquet schema inference returns: the
    * four type mappings, and schema merging across files.
    */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** Memo key over a file set: sorted `path@len@mtime` per file plus the
    * caller's `confs`, the one encoding both memos use. Empty for an empty
    * file set — callers treat that as non-memoizable.
    */
  private def fileSetKey(files: Seq[FileStatus], confs: String): String =
    if (files.isEmpty) ""
    // NUL separator (the ESCAPE, not a raw byte — a literal NUL made git
    // treat this file as binary, ADVICE r9): no legal path contains
    // U+0000, so space-containing paths cannot alias two distinct file
    // sets onto one memo cell the way a space join would
    else (files.map(f => s"${f.getPath}@${f.getLen}@${f.getModificationTime}").sorted :+ confs)
      .mkString("\u0000")

  /** Memo key for [[schemas]]: every leaf file under `path` (one listing,
    * lengths and times included) plus the [[SchemaConfs]] values. Empty
    * when the path cannot be listed. Computed BEFORE the inference it keys,
    * so a rewrite racing the inference files its schema under the old,
    * never-again-listed file set rather than under the new one.
    */
  private def schemaKey(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val files =
      try {
        val it  = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
        val out = Seq.newBuilder[FileStatus]
        while (it.hasNext) out += it.next()
        out.result()
      } catch { case _: java.io.IOException => Seq.empty }
    // getOption, not getConfString(k, ""): a "" default fails the boolean
    // confs' value check
    val confs = SchemaConfs.map(k => s"$k=${spark.conf.getOption(k).getOrElse("")}")
    fileSetKey(files, confs.mkString(","))
  }

  /** Memo key for [[spread]]: the frame's input files plus the file-split
    * session confs. Empty when the frame has no resolvable files (non-file
    * sources) or a file cannot be stat'ed.
    */
  private def splitKey(df: DataFrame): String = {
    val spark = df.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val files =
      try df.inputFiles.toSeq.map { f =>
        val p = new Path(f)
        p.getFileSystem(hconf).getFileStatus(p)
      } catch { case _: java.io.IOException => Seq.empty }
    val conf = spark.sessionState.conf
    fileSetKey(files, s"confs=${conf.filesMaxPartitionBytes}:${conf.filesOpenCostInBytes}:" +
      s"${spark.sparkContext.defaultParallelism}")
  }

  /** Spread a scan whose SPLIT COUNT cannot feed the available task slots —
    * the single-file/single-row-group layout of the local test tables puts
    * an entire compute-heavy first stage (per-shingle md5s, minhash folds)
    * on ONE core. Strictly a no-op whenever the source already has at least
    * a quarter of `defaultParallelism` splits, so a real multi-split corpus
    * NEVER pays the injected round-robin shuffle — this is the local/dev
    * twin of what a 100 TB deployment gets for free from its file count.
    * Call on SCAN-STAGE frames only: the split check (`df.rdd`, memoized per
    * file set) is pure planning for an exchange-free plan, but under AQE it
    * would EAGERLY execute the upstream stages of a frame that already
    * contains shuffles (every call site here passes a raw table scan).
    */
  def spread(df: DataFrame): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    val key = splitKey(df)
    // non-file frames (empty key) aren't memoizable — distinct frames would
    // alias one cache cell; call sites pass file scans, this is the guard
    val splits =
      if (key.isEmpty) df.rdd.getNumPartitions
      else splitCounts.getOrElseUpdate(key, df.rdd.getNumPartitions)
    if (splits * 4 <= slots) df.repartition(slots) else df
  }
}
