package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.{Ingest, KeyedTable}

/** Streaming kill-and-resume semantics (SURVEY.md §5.2#5, §2.9 T1–T4, T8):
  * a checkpointed file-source stream merging into the versioned keyed table
  * must, across a stop/restart, lose no keys, duplicate no keys, apply
  * last-write-wins, and quarantine invalid rows — the reference's
  * save_progress/load_progress resume contract (server.py:96-171, 324-345).
  */
class StreamingSpec extends SparkTestBase {

  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("link", StringType),
    StructField("name", StringType),
    StructField("seq", LongType)))

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-$name").toString

  test("T1-T4: checkpointed ingest survives kill-and-resume with exactly-once table state") {
    val srcDir, ckptDir, tableDir, qDir = tmp("stream")
    val table = new KeyedTable(spark, tableDir, "link")

    def writeBatch(path: String, rows: Seq[(String, String, Long)]): Unit =
      rows.toDF("link", "name", "seq").coalesce(1).write.mode("append").parquet(path)

    def startQuery() = Ingest.start(
      updates = spark.readStream.schema(schema).parquet(srcDir),
      table = table,
      checkpointDir = ckptDir,
      valid = col("name").isNotNull && trim(col("name")) =!= "",
      quarantineDir = Some(qDir),
      seqCol = Some("seq"))

    // Epoch 1: two keys, one invalid row.
    writeBatch(srcDir, Seq(("a", "Rex", 1L), ("b", "Bella", 2L), ("x", "", 3L)))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()   // the "kill"

    val afterEpoch1 = table.read().get.orderBy("link")
      .select("link", "name").as[(String, String)].collect().toSeq
    assert(afterEpoch1 == Seq("a" -> "Rex", "b" -> "Bella"))
    val v1 = table.latestVersion().get

    // Epoch 2: update b (twice in one batch — highest seq wins), add c.
    writeBatch(srcDir, Seq(("b", "Bee", 5L), ("b", "Bet", 4L), ("c", "Cat", 6L)))
    val q2 = startQuery()   // resume from the same checkpoint
    q2.processAllAvailable()
    q2.stop()

    val after = table.read().get.orderBy("link")
      .select("link", "name").as[(String, String)].collect().toSeq
    assert(after == Seq("a" -> "Rex", "b" -> "Bee", "c" -> "Cat"),
      "no lost keys, no duplicated keys, last-write-wins across resume")
    assert(table.latestVersion().get > v1, "resume published new versions, not replays")

    // T8: the invalid row is preserved in quarantine, not silently dropped.
    val quarantined = spark.read.parquet(qDir).select("link").as[String].collect().toSeq
    assert(quarantined == Seq("x"))
  }

  test("T4 idempotence: a replayed batch id is skipped by the versioned sink") {
    val table = new KeyedTable(spark, tmp("replay"), "link")
    table.merge(Seq(("a", "1")).toDF("link", "v"), batchId = 0L)
    table.merge(Seq(("a", "CLOBBER")).toDF("link", "v"), batchId = 0L) // replay
    assert(table.read().get.collect()(0).getString(1) == "1")
  }

  test("schema evolution: a new column arriving mid-stream widens the snapshot") {
    val table = new KeyedTable(spark, tmp("evolve"), "link")
    table.merge(Seq(("a", "1"), ("b", "2")).toDF("link", "v"), batchId = 0L)
    // batch 1 starts carrying a new field: snapshot widens, old rows null
    table.merge(Seq(("b", "9", "x"), ("c", "3", "y")).toDF("link", "v", "tag"), batchId = 1L)
    val wide = table.read().get
    assert(wide.columns.toSeq == Seq("link", "v", "tag"))
    assert(wide.orderBy("link").collect().toSeq ==
      Seq(Row("a", "1", null), Row("b", "9", "x"), Row("c", "3", "y")))
    // a replayed NARROW batch id is refused before it could narrow anything
    table.merge(Seq(("a", "CLOBBER")).toDF("link", "v"), batchId = 0L)
    // and a fresh narrow batch merges fine against the evolved snapshot
    table.merge(Seq(("a", "4")).toDF("link", "v"), batchId = 2L)
    assert(table.read().get.orderBy("link").collect().toSeq ==
      Seq(Row("a", "4", null), Row("b", "9", "x"), Row("c", "3", "y")))
  }

  test("version diff classifies added/changed/removed keys across publishes") {
    val table = new KeyedTable(spark, tmp("diff"), "link")
    table.merge(Seq(("a", "1"), ("b", "2")).toDF("link", "v"), batchId = 0L)
    // b changes, c arrives with a NEW column (schema evolution): the diff
    // compares common columns only, so a's unchanged state stays invisible
    table.merge(Seq(("b", "9", "x"), ("c", "3", "y")).toDF("link", "v", "tag"), batchId = 1L)
    val d01 = table.diff(0L, 1L).orderBy("link")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(d01 == Seq("b" -> "changed", "c" -> "added"))
    // a compaction that deletes a key shows as removed
    table.publish(table.read().get.filter(col("link") =!= "a"))
    val d12 = table.diff(1L, 2L)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(d12 == Seq("a" -> "removed"))
  }

  test("diff property sweep: (add/drop column) x (null payload) x (same-key rewrite)") {
    // VERDICT r12 next-step #6: the publish audit (S5) had example-based
    // coverage but nothing sweeping the combination space where the J6
    // presence-flag trap lives — a row PRESENT with an all-null payload
    // must never read like an ABSENT row, under any column-evolution
    // shape. Seeded generator, so a failure replays exactly.
    val rnd = new scala.util.Random(20260815L)
    val colPool = Seq("v", "w", "x")
    type Rows = Map[String, Map[String, String]] // key -> (col -> non-null value)

    def mkDf(rows: Rows, cols: Seq[String]) = {
      val sch = StructType(StructField("link", StringType, nullable = false) +:
        cols.map(c => StructField(c, StringType, nullable = true)))
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq.map { case (k, m) =>
          Row.fromSeq(k +: cols.map(c => m.getOrElse(c, null))) }, 2), sch)
    }
    // the diff's documented semantics as a driver-side model: common
    // non-key columns only, null-safe state compare (a null cell and an
    // absent cell are the same non-value — to_json drops null fields)
    def model(o: Rows, n: Rows, oCols: Seq[String], nCols: Seq[String]) = {
      val common = oCols.toSet.intersect(nCols.toSet).toSeq.sorted
      def state(m: Map[String, String]) = common.flatMap(c => m.get(c).map(c -> _))
      (o.keySet ++ n.keySet).flatMap { k =>
        (o.get(k), n.get(k)) match {
          case (None, Some(_))     => Some(k -> "added")
          case (Some(_), None)     => Some(k -> "removed")
          case (Some(a), Some(b))  =>
            if (state(a) != state(b)) Some(k -> "changed") else None
          case _                   => None
        }
      }.toMap
    }
    def check(trial: String, o: Rows, n: Rows, oCols: Seq[String], nCols: Seq[String]): Unit = {
      val table = new KeyedTable(spark, tmp(s"diffprop"), "link")
      table.publish(mkDf(o, oCols))
      table.publish(mkDf(n, nCols))
      val got = table.diff(0L, 1L).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == model(o, n, oCols, nCols),
        s"$trial: oCols=$oCols nCols=$nCols old=$o new=$n")
    }

    // the trap, pinned deterministically: an all-null-payload row is
    // PRESENT (k0 removed, not changed; k2 unchanged, not added/removed)
    check("null-payload presence",
      o = Map("k0" -> Map.empty, "k1" -> Map("v" -> "1"), "k2" -> Map.empty),
      n = Map("k1" -> Map.empty, "k2" -> Map.empty),
      oCols = Seq("v"), nCols = Seq("v"))
    // disjoint payload schemas: nothing comparable, shared keys unchanged
    check("full column swap",
      o = Map("k0" -> Map("v" -> "1"), "k1" -> Map.empty),
      n = Map("k0" -> Map("w" -> "2"), "k2" -> Map("w" -> "3")),
      oCols = Seq("v"), nCols = Seq("w"))
    // every status at once beside an added column: k0 removed, k1 changed,
    // k2 added, k3 unchanged (the new `w` is not common, so it is ignored)
    check("mixed statuses, added column",
      o = Map("k0" -> Map.empty, "k1" -> Map("v" -> "1"), "k3" -> Map("v" -> "2")),
      n = Map("k1" -> Map("v" -> "2", "w" -> "1"), "k2" -> Map.empty, "k3" -> Map("v" -> "2")),
      oCols = Seq("v"), nCols = Seq("v", "w"))

    for (trial <- 0 until 10) {
      def someCols() = colPool.filter(_ => rnd.nextBoolean()) match {
        case Nil => Seq(colPool(rnd.nextInt(colPool.length))); case s => s
      }
      val (oCols, nCols) = (someCols(), someCols())
      def randRows(cols: Seq[String]): Rows = (0 until 8).flatMap { i =>
        if (rnd.nextBoolean())
          Some(s"k$i" -> cols.flatMap(c => rnd.nextInt(3) match {
            case 0 => None // null cell
            case j => Some(c -> j.toString)
          }).toMap)
        else None
      }.toMap
      check(s"seeded trial $trial", randRows(oCols), randRows(nCols), oCols, nCols)
    }
  }

  test("T7 compact: delete-by-predicate republishes atomically with counts") {
    val table = new KeyedTable(spark, tmp("compact"), "link")
    table.merge(Seq(("a", 1), ("b", 9), ("c", 2)).toDF("link", "n"), batchId = 0L)
    val Some((kept, dropped)) = Ingest.compact(table, keep = col("n") < 5)
    assert((kept, dropped) == ((2L, 1L)))
    assert(table.read().get.select("link").as[String].collect().toSet == Set("a", "c"))
  }

  test("streaming dedup drops replayed keys inside the watermark horizon") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val deduped = Ingest.dedupStream(
      input.toDF().toDF("link", "fetched_at"), "link", "fetched_at")
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(("a", t0), ("a", t0), ("b", t0))
      q.processAllAvailable()
      input.addData(("a", t0)) // replay in a later batch, still in horizon
      q.processAllAvailable()
      val links = spark.table("dedup_out").select("link").as[String].collect().sorted
      assert(links.toSeq == Seq("a", "b"))
    } finally q.stop()
  }

  test("T7 interleave: a compaction between micro-batches never swallows the next batch") {
    val table = new KeyedTable(spark, tmp("interleave"), "link")
    table.merge(Seq(("a", 1), ("b", 9)).toDF("link", "n"), batchId = 0L)
    // maintenance epoch bumps the SNAPSHOT version only, not the batch cursor
    Ingest.compact(table, keep = col("n") < 5)
    table.merge(Seq(("c", 2)).toDF("link", "n"), batchId = 1L)
    assert(table.read().get.select("link").as[String].collect().toSet == Set("a", "c"),
      "batch 1 must apply after an interleaved compaction (version/batch-id collision)")
  }

  test("snapshot GC bounds the table directory while keeping recent versions") {
    val dir   = tmp("gc")
    val table = new KeyedTable(spark, dir, "link")
    (0L to 5L).foreach(b => table.merge(Seq((s"k$b", b)).toDF("link", "n"), batchId = b))
    val snapshots = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.matches("v\\d+")).toSeq.sorted
    // current + KeepSnapshots=2 superseded: an in-flight reader of the
    // previous-previous version survives two quick merges
    assert(snapshots == Seq("v3", "v4", "v5"),
      s"expected exactly v3..v5 retained, got $snapshots")
    // latest content intact
    assert(table.read().get.count() == 6)
  }

  test("T7 runEpoch drains the source, compacts, and resumes on the next epoch") {
    val srcDir, ckptDir, tableDir = tmp("epoch")
    val table = new KeyedTable(spark, tableDir, "link")
    def src = spark.readStream.schema(schema).parquet(srcDir)
    val valid = col("name").isNotNull && trim(col("name")) =!= ""
    val keep  = !col("name").startsWith("STALE")

    Seq(("a", "Rex", 1L), ("b", "STALE-Bella", 2L)).toDF("link", "name", "seq")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val (kept1, dropped1) = Ingest.runEpoch(src, table, ckptDir, valid, keep)
    assert((kept1, dropped1) == ((1L, 1L))) // Rex kept, stale Bella compacted away

    Seq(("c", "Cat", 3L)).toDF("link", "name", "seq")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val (kept2, _) = Ingest.runEpoch(src, table, ckptDir, valid, keep)
    assert(kept2 == 2L) // a + c; epoch 2 resumed from the checkpoint
    assert(table.read().get.select("link").as[String].collect().toSet == Set("a", "c"))
  }

  test("T1/T5 paged source enumerates (page, pet_type) like the reference loop") {
    val df = Ingest.pagedSource(spark, rps = 4, maxPage = 10)
    assert(df.isStreaming)
    assert(df.columns.toSeq == Seq("page", "pet_type", "fetched_at"))
  }

  test("end-to-end: paged source → stub fetch → link extract → checkpointed keyed merge") {
    import graft.sources.Fetch
    val links = Fetch.extractLinks(
      Fetch.fetchPages(
        Fetch.withSearchUrls(Ingest.pagedSource(spark, rps = 50, maxPage = 100)),
        "url", Fetch.stubSearchPageFetcher()),
      "html").select("link", "page", "pet_type")
    assert(links.isStreaming)

    val table = new KeyedTable(spark, tmp("e2e-table"), "link")
    val q = Ingest.start(links, table, tmp("e2e-ckpt"),
      valid = org.apache.spark.sql.functions.length(col("link")) > 0)
    try {
      val deadline = System.nanoTime() + 30L * 1000000000L
      var rows = 0L
      while (rows == 0 && System.nanoTime() < deadline) {
        Thread.sleep(500)
        rows = table.read().map(_.count()).getOrElse(0L)
      }
      assert(rows > 0, "no batch merged within 30s")
      // every merged link is a normalized absolute pet URL, one row per key
      val out = table.read().get
      assert(out.count() == out.select("link").distinct().count())
      assert(out.select("link").as[String].collect()
        .forall(_.startsWith("https://www.petfinder.com/pet/")))
    } finally q.stop()
  }
}
