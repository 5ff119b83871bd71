package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.model.PetSchema
import graft.streaming.{KeyedTable, Sessions}

/** The §7.1 pipeline facade over the pets shape, plus the streaming-form
  * sessionizer cross-checked against the graded batch query.
  */
class PipelineSpec extends SparkTestBase {

  import spark.implicits._

  private def petsDf(rows: Seq[Row]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), PetSchema.schema)

  private def pet(link: String, name: String, fill: Int): Row = {
    // fill = how many of the 6 detail columns (location..breed) carry values
    val details = (1 to 6).map(i => if (i <= fill) s"d$i" else null)
    val bools: Seq[Any] =
      if (fill > 0) Seq(true, false, true, false, true, false) // False ≠ missing
      else Seq(java.lang.Boolean.TRUE, null, null, null, null, null)
    Row.fromSeq(
      Seq(link, "dog", name) ++ details ++ bools ++
        Seq(if (fill > 0) "about" else null, if (fill > 0) "img" else null))
  }

  test("ingestBatch: anti-join, placeholder + quality gates, keyed merge") {
    val existing = petsDf(Seq(pet("L1", "Rex", 7)))
    val batch = petsDf(Seq(
      pet("L1", "ShouldNotReplace", 7), // existing link → anti-joined away
      pet("L2", "dog", 7),              // placeholder name → dropped
      pet("L3", "Thin", 0),             // 10/15 checked missing → dropped
      pet("L4", "Mia", 7)))             // survives
    val out = Pipeline.ingestBatch(existing, batch)
    val names = out.orderBy("link").select("link", "name").as[(String, String)].collect().toSeq
    assert(names == Seq("L1" -> "Rex", "L4" -> "Mia"))
  }

  test("ingestBatch: a new link sent twice in one batch lands once, in both overloads") {
    val existing = petsDf(Seq(pet("L1", "Rex", 7)))
    val batch = petsDf(Seq(pet("L2", "Mia", 7), pet("L2", "Mia", 7)))
    def links(df: org.apache.spark.sql.DataFrame) =
      df.select("link").as[String].collect().toSeq.sorted
    assert(links(Pipeline.ingestBatch(existing, batch)) == Seq("L1", "L2"))
    val table = new KeyedTable(spark, Files.createTempDirectory("graft-ingest").toString, "link")
    table.publish(existing)
    Pipeline.ingestBatch(table, batch, 0L)
    assert(links(table.read().get) == Seq("L1", "L2"))
  }

  test("ingestBatch into a KeyedTable: stored rows kept whole, in at most 3 jobs") {
    val table = new KeyedTable(spark, Files.createTempDirectory("graft-ingest-jobs").toString, "link")
    table.publish(petsDf(Seq(pet("L1", "Rex", 7), pet("L2", "Mia", 3))))
    val batch = petsDf(Seq(
      pet("L1", "Other", 7),                    // stored link: row kept whole
      pet("L2", "Full", 7),                     // stored link with fewer fields
      pet("L3", "Max", 7), pet("L3", "Max", 7), // new, sent twice
      pet("L4", "cat", 7)))                     // placeholder name
    // the anti-join is folded into the merge join: no key-set broadcast
    val (_, jobs) = jobsDuring(Pipeline.ingestBatch(table, batch, 0L))
    assert(jobs.size <= 3, s"ingestBatch ran ${jobs.size} jobs")
    val out = table.read().get
    assert(out.orderBy("link").select("link", "name").as[(String, String)].collect().toSeq ==
      Seq("L1" -> "Rex", "L2" -> "Mia", "L3" -> "Max"))
    assert(out.filter(col("link") === "L2").select("breed").as[String].collect().toSeq ==
      Seq(null), "a stored row keeps its own nulls, not the batch's values")
  }

  test("serve of a stored snapshot (GET /pets) runs at most 5 jobs") {
    val table = new KeyedTable(spark, Files.createTempDirectory("graft-serve-jobs").toString, "link")
    table.publish(petsDf((1 to 500).map(i => pet(f"L$i%04d", s"Pet$i", 7))))
    // the lifecycle's serve: read the head's snapshot, rows as JSON to the client
    val (out, jobs) = jobsDuring(Pipeline.serve(table.read().get).toJSON.collect())
    assert(out.length == 500 && out.forall(_.startsWith("""{"total_count":500,""")))
    assert(jobs.size <= 5, s"serve ran ${jobs.size} jobs: ${jobs.map(_.site).mkString("; ")}")
  }

  test("compact: field-failure threshold with summary counts") {
    val df = petsDf(Seq(pet("L1", "Rex", 7), pet("L2", "Thin", 0)))
    val (survivors, summary) = Pipeline.compact(df)
    assert(survivors.select("link").as[String].collect().toSeq == Seq("L1"))
    assert(summary.collect()(0) == Row(1L, 1L, 2L))
  }

  test("serve + exportCsv produce the S7/S8 shapes end-to-end") {
    val df     = petsDf(Seq(pet("L1", "Rex", 7), pet("L2", "Mia", 7)))
    val served = Pipeline.serve(df)
    assert(served.columns.head == "total_count")
    assert(served.select("total_count").as[Long].collect().toSeq == Seq(2L, 2L))

    val dir = Files.createTempDirectory("graft-pets-csv").toString
    Pipeline.exportCsv(df, dir, singleFile = true)
    val header = scala.io.Source.fromFile(
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv")).head)
      .getLines().next()
    assert(header == PetSchema.columns.mkString(","))
  }

  test("streaming sessionizer emits closed sessions once the watermark passes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode

    val t0    = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val sess = Sessions.sessionize(
      input.toDF().toDF("user_id", "ts"), watermark = Some("10 minutes"))
    val q = sess.writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // one session of two events, then a far-future event that advances the
      // watermark past the first session's close
      input.addData((1L, ts(0)), (1L, ts(5)))
      q.processAllAvailable()
      input.addData((1L, ts(120)))
      q.processAllAvailable()
      val emitted = spark.table("sess_out")
        .select("user_id", "n_events").as[(Long, Long)].collect().toSeq
      assert(emitted == Seq(1L -> 2L),
        "first session (2 events) emitted after watermark passed; open session withheld")
    } finally q.stop()
  }

  test("stateful sessionizer (flatMapGroupsWithState) closes sessions across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val gapUs = 10L * 60 * 1000000 // 10 min
    def us(min: Int) = min * 60L * 1000000
    val input = MemoryStream[(Long, Long)]
    // idleTimeoutMs = None: processing-time timeouts keep scheduling batches,
    // which would make processAllAvailable below wait forever
    val out = graft.streaming.Sessions.sessionizeStateful(input.toDS(), gapUs, None)
    val q = out.writeStream.format("memory").queryName("stateful_sess")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: user 1 has two close events; user 2 one event
      input.addData((1L, us(0)), (1L, us(5)), (2L, us(0)))
      q.processAllAvailable()
      assert(spark.table("stateful_sess").count() == 0, "no session closed yet")

      // batch 2: user 1 far-future event closes the first session across the
      // batch boundary; user 2 stays open
      input.addData((1L, us(120)))
      q.processAllAvailable()
      val closed = spark.table("stateful_sess")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(closed == Seq((1L, us(0), us(5), 2L)),
        "user 1's first session (2 events, state carried across batches) closed")
    } finally q.stop()
  }

  test("stateful sessionizer gap-folds mutually-in-gap stragglers like the batch form") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val gapUs = 10L * 60 * 1000000 // 10 min
    def us(min: Int) = min * 60L * 1000000
    val input = MemoryStream[(Long, Long)]
    val out = graft.streaming.Sessions.sessionizeStateful(input.toDS(), gapUs, None)
    val q = out.writeStream.format("memory").queryName("straggler_sess")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1 opens user 1's session at [100, 110]
      input.addData((1L, us(100)), (1L, us(110)))
      q.processAllAvailable()
      // batch 2: two stragglers far below the open envelope but within gap
      // of EACH OTHER — they must fold into ONE closed session (50..55),
      // not two singletons; the open session is untouched
      input.addData((1L, us(50)), (1L, us(55)))
      q.processAllAvailable()
      val closed = spark.table("straggler_sess")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(closed == Seq((1L, us(50), us(55), 2L)),
        s"mutually-in-gap stragglers must close as one session, got $closed")

      // batch 3: a straggler run that BRIDGES into the open session
      // (82 -> 91 within gap, 91 -> 100 within gap): nothing closes, the
      // open session absorbs the run; prove it by closing with a far-future
      // event and checking the merged extent 82..110 with all 6 events
      input.addData((1L, us(82)), (1L, us(91)))
      q.processAllAvailable()
      input.addData((1L, us(400)))
      q.processAllAvailable()
      val all = spark.table("straggler_sess")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(all == Seq((1L, us(50), us(55), 2L), (1L, us(82), us(110), 4L)),
        s"bridging straggler run must merge into the open session, got $all")
    } finally q.stop()
  }

  test("event-time stateful sessionizer evicts via the watermark, not wall clock") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val gapUs = 1L * 60 * 1000000 // 1 min
    // base well above epoch 0: the initial watermark is 0, and events at or
    // below the watermark are dropped as late before reaching the state fn
    val baseMs = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(min: Int) = new java.sql.Timestamp(baseMs + min * 60000L)
    val baseUs = baseMs * 1000L
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val out = graft.streaming.Sessions.sessionizeEventTime(
      input.toDS(), gapUs, watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("evt_sess")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: user 1 opens a 2-event session; watermark advances to 1 min
      input.addData((1L, ts(0)), (1L, ts(1)))
      q.processAllAvailable()
      assert(spark.table("evt_sess").count() == 0, "session still inside gap envelope")

      // batch 2: a DIFFERENT user's much-later event pushes the watermark
      // past user 1's last + gap (2 min); batch 3 fires the timeout — no
      // wall-clock waiting anywhere, closure is decided by event time alone
      input.addData((2L, ts(10)))
      q.processAllAvailable()
      input.addData((2L, ts(11)))
      q.processAllAvailable()
      val closed = spark.table("evt_sess")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(closed.contains((1L, baseUs, baseUs + 60000000L, 2L)),
        s"user 1's session must close once the watermark proves the gap: $closed")
      // user 2's session is still open (watermark hasn't passed 11 min + gap)
      assert(!closed.exists(_._1 == 2L), s"user 2 evicted too early: $closed")
    } finally q.stop()
  }

  test("event-time sessionizer folds batch-split stragglers like single-batch delivery") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val gapUs  = 1L * 60 * 1000000 // 1 min
    val baseMs = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(min: Double) = new java.sql.Timestamp(baseMs + (min * 60000L).toLong)
    def us(min: Double) = baseMs * 1000L + (min * 60000000L).toLong
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val out = graft.streaming.Sessions.sessionizeEventTime(
      input.toDS(), gapUs, watermark = "10 minutes")
    val q = out.writeStream.format("memory").queryName("evt_straggle")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: user 1 @ min 20 (watermark → min 10)
      input.addData((1L, ts(20)))
      q.processAllAvailable()
      // batch 2: in-horizon stragglers @ min 15 / 15.5 — older than the
      // open session's whole gap envelope, but still above the watermark.
      // They must fold into ONE 2-event session, exactly as if all three
      // events had arrived in a single batch — not leak out as singletons.
      input.addData((1L, ts(15)), (1L, ts(15.5)))
      q.processAllAvailable()
      assert(spark.table("evt_straggle").count() == 0,
        "nothing is provably closed while the watermark sits at min 10")
      // two more batches push the watermark past min 21 and fire the timeout
      input.addData((2L, ts(40)))
      q.processAllAvailable()
      input.addData((2L, ts(41)))
      q.processAllAvailable()
      val closed = spark.table("evt_straggle")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(closed == Set(
        (1L, us(15), us(15.5), 2L), // stragglers folded into one session
        (1L, us(20), us(20), 1L)),
        s"batch-split delivery must yield the same sessions as one batch: $closed")
    } finally q.stop()
  }

  test("streaming-form sessionizer agrees with the batch query on session counts") {
    val batchSessions = graft.SparkEntry.queries("q_sessionize")(spark, "/root/testdata/sf0.001")
      .groupBy("user_id").count().orderBy("user_id")
      .as[(Long, Long)].collect().toSeq
    val streamForm = Sessions.sessionize(Tables.events(spark, "/root/testdata/sf0.001"))
      .groupBy("user_id").count().orderBy("user_id")
      .as[(Long, Long)].collect().toSeq
    assert(batchSessions == streamForm)
  }
}
