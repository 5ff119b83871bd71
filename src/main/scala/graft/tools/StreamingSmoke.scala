package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

import graft.BenchRecord
import graft.streaming.{Funnels, IncrementalDedup, Ingest, KeyedTable, Packing, Sketches, Velocity}

/** Driver-visible health check for the UNGRADED streaming surface (VERDICT
  * r9 next-step #5): the T1–T8 ingest protocol, IncrementalDedup, the
  * streamed sketches, Packing, Funnels, and Velocity are green only inside
  * `sbt test`, which the grading driver never runs — so their per-round
  * health was invisible in the round artifacts. This main re-exercises the
  * load-bearing contract of each family in seconds (MemoryStream feeds,
  * tmp-dir stores, deterministic inputs) and prints ONE JSON line in the
  * Bench format. graft.Bench forks it before the timing run and is the one
  * writer of its record (`STREAMING.json` + `STREAMING_HISTORY.jsonl`, or
  * `STREAMING_SUBSET.json` for a subset run), so every bench
  * invocation records streaming health beside query timings.
  *
  * These are SMOKE contracts, not the spec suite: each suite asserts the
  * one property whose regression would corrupt a deployment (resume
  * without re-fetch, replay without double-apply, eviction without data
  * loss, exactly-once packing), and the full edge-case battery stays in
  * ScalaTest.
  */
object StreamingSmoke {

  /** Throwing assertion counter: a failed check aborts its suite (reported
    * in the JSON `failures` map) without taking down the other suites.
    */
  private final class Checks {
    var passed = 0
    def is(cond: Boolean, msg: => String): Unit = {
      if (!cond) throw new AssertionError(msg)
      passed += 1
    }
  }

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-smoke-$tag").toString

  // ---------------------------------------------------------------- T1–T8
  /** Ingest protocol: quarantine of invalid rows (T8), keyed idempotent
    * merge with intra-batch conflict order (T4), checkpointed resume into
    * a SECOND query on the same checkpoint (T2/T3), status introspection
    * (T6). The paged source itself (T1/T5) is rate-source plumbing the
    * spec covers; here a MemoryStream stands in so the feed is exact.
    */
  private def ingestResume(spark: SparkSession, c: Checks): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = tmpDir("ingest")
    val table = new KeyedTable(spark, s"$base/table", "pet_id")
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)]
    def start() = Ingest.start(
      in.toDS().toDF("pet_id", "seq", "name"), table, s"$base/ckpt",
      valid = col("name") =!= "BAD", quarantineDir = Some(s"$base/quar"),
      seqCol = Some("seq"))
    val q1 = start()
    try {
      in.addData((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "BAD"))
      q1.processAllAvailable()
      val ctl = new Ingest.IngestControl(q1)
      c.is(ctl.status.active, "T6 status must report an active query")
      val rows1 = table.read().get.select("pet_id", "name")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      c.is(rows1 == Map(1L -> "a", 2L -> "b"),
        s"T4/T8 merge must keep valid rows only, got $rows1")
      val quar = spark.read.parquet(s"$base/quar").collect()
      c.is(quar.length == 1 && quar.head.getAs[String]("name") == "BAD",
        "T8 invalid row must land in quarantine")
    } finally q1.stop()
    // resume on the same checkpoint: a NEW query continues the stream —
    // an update to a seen key upserts, a new key appends, nothing doubles
    val q2 = start()
    try {
      in.addData((2L, 2L, "b2"), (4L, 1L, "d"))
      q2.processAllAvailable()
      val rows2 = table.read().get.select("pet_id", "name")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      c.is(rows2 == Map(1L -> "a", 2L -> "b2", 4L -> "d"),
        s"T2/T3 resume must upsert without re-applying batch 1, got $rows2")
    } finally q2.stop()
  }

  // ---------------------------------------------------------------- T1/T5/T7
  /** The unbounded paged source (rate-source cursor → (page, pet_type)
    * enumeration, throughput-capped) driving one AvailableNow epoch into a
    * keyed table, then the T7 maintenance compaction: delete-by-predicate
    * over the published snapshot, republished as a new version.
    */
  private def pagedEpoch(spark: SparkSession, c: Checks): Unit = {
    val base = tmpDir("epoch")
    val table = new KeyedTable(spark, s"$base/table", "page_key")
    // high rps so the AvailableNow drain sees rows without real waiting;
    // the rps THROTTLE semantics (2 rows/s wall-clock) belong to the spec
    val src = Ingest.pagedSource(spark, rps = 200, maxPage = 50)
      .selectExpr("concat(pet_type, ':', page) AS page_key", "page", "pet_type")
    // two epochs, the documented T7 loop shape: the rate source's cursor
    // clock starts at the FIRST query start (recorded in the checkpoint),
    // so epoch 0 establishes it, the sleep accrues offsets, and epoch 1
    // drains them from where epoch 0 stopped
    Ingest.runEpoch(src, table, s"$base/ckpt",
      valid = lit(true), keep = col("pet_type") === "dog")
    Thread.sleep(2000)
    val (kept, dropped) = Ingest.runEpoch(src, table, s"$base/ckpt",
      valid = lit(true), keep = col("pet_type") === "dog")
    c.is(kept + dropped > 0, "T1 epoch must drain rows from the paged source")
    val rows = table.read().get.select("page", "pet_type").collect()
    c.is(rows.nonEmpty && rows.forall(_.getString(1) == "dog"),
      "T7 compaction must drop every non-dog row and keep the dogs")
    c.is(rows.forall(r => r.getInt(0) >= 1 && r.getInt(0) <= 50),
      "T1 page cursor must stay inside the wrap bound")
    c.is(dropped > 0, "the cat half of the enumeration must have been compacted away")
  }

  // ----------------------------------------------------------------- E1h
  /** Incremental dedup: a new batch's near-dup pairs against the corpus so
    * far, replay of an applied batchId is a no-op, and a later batch finds
    * pairs against STORED bands (the partition-pruned probe).
    */
  private def incrementalDedup(spark: SparkSession, c: Checks): Unit = {
    import spark.implicits._
    val table = new KeyedTable(spark, tmpDir("dedup"), "doc_id")
    val words = (1 to 16).map(i => s"w$i").mkString(" ")
    val docs1 = Seq(
      (1L, words), (2L, words + " tail"),
      (3L, (1 to 16).map(i => s"x$i").mkString(" "))).toDF("doc_id", "text")
    val p1 = IncrementalDedup.processBatch(table, docs1, 0L)
    val pairs1 = p1.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    p1.unpersist()
    c.is(pairs1.contains((1L, 2L)),
      s"within-batch near-dup (1,2) must surface, got $pairs1")
    c.is(!pairs1.exists(p => p._1 == 3L || p._2 == 3L),
      "distinct doc 3 must not pair")
    val replay = IncrementalDedup.processBatch(table, docs1, 0L)
    val nReplay = replay.count()
    replay.unpersist()
    c.is(nReplay == 0L, "replayed batchId must return no pairs")
    val docs2 = Seq((4L, (1 to 16).map(i => s"x$i").mkString(" ") + " more"))
      .toDF("doc_id", "text")
    val p2 = IncrementalDedup.processBatch(table, docs2, 1L)
    val pairs2 = p2.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    p2.unpersist()
    c.is(pairs2.contains((3L, 4L)),
      s"new batch must pair against STORED corpus bands, got $pairs2")
  }

  // --------------------------------------------------------------- E3ai/…
  /** Streamed HLL registers: two disjoint batches max-merge to exactly the
    * batch estimator's output (the 1000-executor merge property), and a
    * replayed batch publishes nothing.
    */
  private def sketchesHll(spark: SparkSession, c: Checks): Unit = {
    import spark.implicits._
    import graft.queries.TextQueries
    val table = new KeyedTable(spark, tmpDir("hll"), "reg")
    val docs = (1 to 40).map { i =>
      (i.toLong, if (i % 2 == 0) "even" else "odd",
        (1 to 12).map(j => s"t${i}w$j").mkString(" "))
    }.toDF("doc_id", "source", "text")
    Sketches.updateHll(table, docs.filter($"doc_id" % 2 === 0), 0L)
    Sketches.updateHll(table, docs.filter($"doc_id" % 2 === 1), 1L)
    val v = table.latestVersion()
    Sketches.updateHll(table, docs.filter($"doc_id" % 2 === 0), 0L) // replay
    c.is(table.latestVersion() == v, "replayed HLL batch must not republish")
    val streamed = Sketches.hllDistinct(table)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val batch = TextQueries.hllEstimateFrom(
      TextQueries.hllRegistersOf(TextQueries.hllShingles(docs)))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    c.is(streamed == batch,
      s"streamed HLL estimates must equal the batch estimator: $streamed vs $batch")
  }

  // ------------------------------------------------------------------ E4j
  /** Velocity with the DEFAULT (bounded) state: an idle user is evicted —
    * observed via the state-operator row count — and their next event
    * recreates the window from empty. Polls with a deadline instead of
    * processAllAvailable (the registered processing-time timeout schedules
    * no-data batches; that is how the eviction fires).
    */
  private def velocityEviction(spark: SparkSession, c: Checks): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = new scala.collection.concurrent.TrieMap[Long, (Long, Long)]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long, Long)]
    val q = Velocity.velocityStream(in.toDS(), windowUs = 1000000L).writeStream
      .outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Velocity.VelocityRow], _: Long) =>
        df.collect().foreach(r => rows.put(r.event_id, (r.n_24h, r.cents_24h)))
      }
      .start()
    def awaitUntil(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
      if (!cond) throw new AssertionError(s"timed out: $what")
    }
    try {
      in.addData((1L, 1000000L, 101L, 100L))
      awaitUntil("first event emitted")(rows.contains(101L))
      c.is(rows(101L) == ((1L, 100L)), "first window must be the event itself")
      awaitUntil("idle state evicted")(
        // guard the array: an early progress record (before the state
        // operator reports) carries an EMPTY stateOperators — indexing it
        // blind made this suite flaky under timing jitter
        Option(q.lastProgress).exists(p =>
          p.stateOperators.nonEmpty && p.stateOperators(0).numRowsTotal == 0L))
      c.is(true, "default-constructed stream evicted the idle user")
      in.addData((1L, 11000000L, 102L, 40L))
      awaitUntil("post-eviction event emitted")(rows.contains(102L))
      c.is(rows(102L) == ((1L, 40L)),
        s"recreated window must hold only the new event, got ${rows(102L)}")
    } finally q.stop()
  }

  // ------------------------------------------------------------------ E4e
  /** Funnel stages folded through keyed state across a batch boundary:
    * deadlines honored, stage order enforced, state carried between
    * batches.
    */
  private def funnelStream(spark: SparkSession, c: Checks): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val got = new scala.collection.concurrent.TrieMap[(Long, Int), Long]
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long, String)]
    val q = Funnels.funnelStream(in.toDS(), stepUs = 5000000L).writeStream
      .outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[Funnels.StageReached], _: Long) =>
        df.collect().foreach(r => got.put((r.user_id, r.stage), r.at_us))
      }
      .start()
    try {
      // batch 1: u1 view+click, u2 view
      in.addData((1L, 1000000L, 1L, "view"), (1L, 2000000L, 2L, "click"),
        (2L, 1000000L, 3L, "view"))
      q.processAllAvailable()
      // batch 2: u1 purchase in time (state from batch 1 must carry);
      // u2 click PAST its 5 s deadline — must not reach stage 2
      in.addData((1L, 3000000L, 4L, "purchase"), (2L, 9000000L, 5L, "click"))
      q.processAllAvailable()
      c.is(got.keySet == Set((1L, 1), (1L, 2), (1L, 3), (2L, 1)),
        s"funnel stages drifted: $got")
      c.is(got((1L, 3)) == 3000000L, "purchase timestamp must be the event's")
    } finally q.stop()
  }

  // ------------------------------------------------------------------ E3n
  /** Incremental packing: two batches pack contiguously per source, every
    * doc lands exactly once, replay is a no-op, and compaction preserves
    * the read view.
    */
  private def packing(spark: SparkSession, c: Checks): Unit = {
    import spark.implicits._
    val table = new KeyedTable(spark, tmpDir("pack"), "source")
    def doc(id: Long, src: String, n: Int) =
      (id, src, (1 to n).map(j => s"d${id}w$j").mkString(" "))
    val b0 = Seq(doc(1, "s", 6), doc(2, "s", 6)).toDF("doc_id", "source", "text")
    val b1 = Seq(doc(3, "s", 6), doc(4, "t", 4)).toDF("doc_id", "source", "text")
    Packing.updatePacked(table, b0, 0L, budget = 10L)
    Packing.updatePacked(table, b1, 1L, budget = 10L)
    Packing.updatePacked(table, b0, 0L, budget = 10L) // replay
    val packed = Packing.readPacked(spark, table).get
      .collect().map(r => r.getLong(1) -> ((r.getLong(3), r.getLong(4)))).toMap
    // source s: offsets 0,6,12 under budget 10 -> packs 0,0,1; doc 3
    // continues FROM THE STORED OFFSET (12), not from zero
    c.is(packed == Map(1L -> ((0L, 0L)), 2L -> ((0L, 6L)), 3L -> ((1L, 2L)),
      4L -> ((0L, 0L))),
      s"packing offsets must continue across batches exactly once: $packed")
    Packing.compactPacks(spark, table)
    val after = Packing.readPacked(spark, table).get
      .collect().map(r => r.getLong(1) -> ((r.getLong(3), r.getLong(4)))).toMap
    c.is(after == packed, "compaction must preserve the packed view")
  }

  private val suites: Seq[(String, (SparkSession, Checks) => Unit)] = Seq(
    "paged_epoch"       -> pagedEpoch _,
    "ingest_resume"     -> ingestResume _,
    "incremental_dedup" -> incrementalDedup _,
    "sketches_hll"      -> sketchesHll _,
    "velocity_eviction" -> velocityEviction _,
    "funnel_stream"     -> funnelStream _,
    "packing"           -> packing _)

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.LocalSpark.session(cpus, "graft-streaming-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    val results = suites.map { case (name, fn) =>
      val c = new Checks
      val err =
        try { fn(spark, c); None }
        catch { case e: Throwable =>
          Some(e.toString.replaceAll("\\s+", " ").take(300)) }
      graft.Bench.clearAllCaches(spark)
      (name, c.passed, err)
    }
    spark.stop()
    val secs = math.round((System.nanoTime() - t0) / 1e7) / 100.0
    val failures = ListMap.from(results.collect { case (n, _, Some(m)) => n -> m })
    println(BenchRecord.render(BenchRecord.Smoke, BenchRecord.SmokeHealth(secs,
      results.length, results.map(_._2).sum, results.count(_._3.isDefined), failures)))
    if (results.exists(_._3.isDefined)) sys.exit(1)
  }
}
