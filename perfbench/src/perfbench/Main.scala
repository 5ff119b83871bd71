package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.{LocalSpark, Pipeline}
import graft.model.PetSchema
import graft.queries.Registry
import graft.sources.Fetch
import graft.streaming.{Ingest, KeyedTable}

/** Lifecycle benchmark: one workload, one seed, one client thread on
  * `local[4]`. Writes a JSON result file (client-visible latency samples per
  * operation type, set-up times, correctness failures and, in a traced run,
  * per-layer counters and spans); `perfbench/run.py` turns it into metrics.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <outFile>
  *
  * In a traced run the timed window is split in two halves: the first runs
  * exactly like an untraced run, the second records spans, listener
  * counters and directory sizes, so the traced half's overhead over the
  * plain half is reported from one process.
  */
object Main {

  /** Job groups: one per operation type. */
  val Ops = Set("insert", "update", "compact", "serve", "export", "batch", "query", "build", "load")

  /** The reference-surface queries of the query mix: at least one from each
    * of CoreRelational, ScalarQueries, FilterMergeQueries, JoinQueries and
    * PipelineQueries, over all five corpus tables.
    */
  val MixQueries: Seq[String] = Seq(
    "q_scan_project", "q_semi_join", "q_topk_per_group", "q_extract_json",
    "q_clean_text", "q_parse_boolean", "q_posexplode_links",
    "q_null_ratio_filter", "q_upsert_merge",
    "q_asof_join",
    "q_export_json_shape", "q_csv_export_encode")

  /** Parameters of each workload (recorded in the result). The reference
    * documents none of these sizes (BASELINE.md: no benchmark, no data
    * volumes): they are choices that keep a run under a minute, listed as
    * such in perfbench/README.md. Only the page layout is sourced (12 link
    * slots per search page, dog and cat pages per page number; see
    * `Gen.PageFetcher`). `tail_units` is the fixed number of timed units
    * the tail metrics read, so the rank they read never moves with
    * throughput.
    */
  val Params: Map[String, Map[String, Any]] = Map(
    "lifecycle" -> Map("snapshot_rows" -> 10000, "insert_rows" -> 500, "update_rows" -> 500,
      "pages_per_epoch" -> 4, "page_bytes" -> 4096, "setup_reps" -> 3, "tail_units" -> 3,
      "insert_mix" -> Gen.InsertMix.toString, "update_mix" -> Gen.UpdateMix.toString),
    "query_mix" -> Map("orders" -> 6000, "queries" -> MixQueries.size, "setup_reps" -> 3,
      "tail_units" -> 3))

  final class Run(val spark: SparkSession, val workload: String, val seed: Long,
                  val seconds: Double, val trace: Boolean, val work: String) {
    val sc       = spark.sparkContext
    val params   = Params(workload)
    val listener = new OpListener(Ops)
    var spans    = new Spans(false)
    var phase    = "plain"
    /** phase → operation type → client-visible latencies (s). */
    val samples  = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]]
    /** phase → part of an operation → seconds (not client-visible on its own). */
    val parts    = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]]
    val rows     = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val wall     = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    /** phase → completed timed units. */
    val units    = mutable.HashMap.empty[String, Long]
    val opCount  = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val layers   = mutable.LinkedHashMap.empty[String, Double]
    val failures = mutable.ArrayBuffer.empty[String]
    val setupReps = mutable.ArrayBuffer.empty[Double]
    var warmupS  = 0.0
    var attempted = 0L
    var inputHash = ""
    val extra    = mutable.LinkedHashMap.empty[String, Any]
    private var opSeq = 0

    def traced: Boolean = phase == "traced"
    def p(k: String): Int = params(k).asInstanceOf[Int]

    private def put(into: mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]],
                    name: String, v: Double): Unit =
      into.getOrElseUpdate(phase, mutable.LinkedHashMap.empty)
        .getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

    def part(name: String, seconds: Double): Unit = put(parts, name, seconds)
    /** phase → operation type → CPU seconds per operation (every thread but the JIT compiler's). */
    val cpuSamples = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]]
    /** One client-visible operation: its latency and the CPU it took. */
    def record(kind: String, seconds: Double, cpuNs: Long): Unit = {
      put(samples, kind, seconds)
      put(cpuSamples, kind, cpuNs / 1e9)
    }

    def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what

    /** Time one operation as the client sees it. `group` is the job group
      * the executor metrics are attributed to; `sample` the operation type
      * its latency is reported under.
      */
    def op[T](group: String, sample: String = null)(body: => T): T = {
      attempted += 1
      sc.setJobGroup(group, group, interruptOnCancel = false)
      listener.current = if (traced) group else "plain"
      spans.op = opSeq; opSeq += 1
      val c0 = Jvm.engineCpuNs()
      val t0 = System.nanoTime()
      val r  = spans(group)(body)
      val dt = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      if (sample != "") record(Option(sample).getOrElse(group), dt, Jvm.engineCpuNs() - c0)
      wall(phase) += dt
      if (traced) { opCount(group) += 1; org.apache.spark.PerfbenchBus.drain(sc) }
      listener.current = "between"
      r
    }

    /** Run unit `i = 0, 1, …` (a fixed sequence of operations, one sample
      * of each operation type) until each phase's share of the timed window
      * is used; the unit in flight at the deadline completes, so every
      * operation type is sampled in the same proportion on every run. The
      * plain phase runs at least `tail_units` units, however long they take.
      */
    def timed(next: Int => Unit): Unit = {
      val phases = if (trace) Seq("plain" -> seconds / 2, "traced" -> seconds / 2) else Seq("plain" -> seconds)
      var i = 0
      phases.foreach { case (ph, secs) =>
        phase = ph
        if (traced) {
          spans = new Spans(true)
          sc.addSparkListener(listener)
          Jvm.resetHeapPeak()
          layers("jvm.gc_s") = -Jvm.gcMs() / 1e3
          layers("jvm.jit_cpu_s") = -Jvm.jitCpuNs() / 1e9
          val (n, ms) = Jvm.codegen()
          layers("codegen.compiles") = -n.toDouble
          layers("codegen.compile_s") = -ms / 1e3
        }
        val deadline = System.nanoTime() + (secs * 1e9).toLong
        val i0 = i
        def short = ph == "plain" && i - i0 < p("tail_units")
        while (System.nanoTime() < deadline || short) { next(i); i += 1 }
        units(ph) = (i - i0).toLong
        if (traced) {
          org.apache.spark.PerfbenchBus.drain(sc)
          layers("jvm.gc_s") += Jvm.gcMs() / 1e3
          layers("jvm.jit_cpu_s") += Jvm.jitCpuNs() / 1e9
          layers("jvm.heap_peak_mb") = Jvm.heapPeakBytes() / 1048576.0
          val (n, ms) = Jvm.codegen()
          layers("codegen.compiles") += n
          layers("codegen.compile_s") += ms / 1e3
          sc.removeSparkListener(listener)
        }
      }
      phase = "check"
    }

    /** Add to a layer counter, created at 0. */
    def add(k: String, v: Double): Unit = layers(k) = layers.getOrElse(k, 0.0) + v
    def get(k: String): Double = layers.getOrElse(k, 0.0)

    def clearCaches(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    def frame(vs: Seq[Array[Any]]): DataFrame =
      spark.createDataFrame(vs.map(Gen.toRow).asJava, PetSchema.schema)

    /** Set up `setup_reps` times, timing each; keep the last result. */
    def setup[T](make: Int => T): T = {
      var last: Option[T] = None
      (0 until p("setup_reps")).foreach { rep =>
        val t0 = System.nanoTime()
        last = Some(make(rep))
        setupReps += (System.nanoTime() - t0) / 1e9
      }
      phase = "plain"
      last.get
    }

    def warmup(body: => Unit): Unit = {
      phase = "warmup"
      val t0 = System.nanoTime()
      body
      warmupS = (System.nanoTime() - t0) / 1e9
      phase = "plain"
    }
  }

  // ------------------------------------------------------------- helpers

  def sameRow(r: Row, v: Array[Any]): Boolean = v.indices.forall(i => r.get(i) == v(i))

  def hashOf(rows: Iterator[Array[Any]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Gen.contentHash(rows, md)
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  val keepRule: org.apache.spark.sql.Column =
    graft.operators.Relational.fieldFailureValid(PetSchema.checkedColumns.map(col), 3)

  /** Directory readings after a commit of the store, outside the timed region. */
  def afterCommit(run: Run, t: KeyedTable, offeredBytes: Long): Unit = if (run.traced) {
    val vdir  = s"${t.dir}/v${t.latestVersion().get}"
    val bytes = Dirs.bytes(vdir).toDouble
    run.add("kt.commits", 1)
    run.add("kt.bytes", bytes)
    run.add("kt.files", Dirs.dataFiles(vdir).size)
    if (offeredBytes > 0) { run.add("kt.amp_bytes", bytes); run.add("kt.offered", offeredBytes.toDouble) }
    run.layers("KeyedTable.stored_bytes") = Dirs.bytes(t.dir).toDouble
    run.layers("KeyedTable.stored_per_live") = Dirs.bytes(t.dir) / math.max(1.0, bytes)
    run.layers("KeyedTable.versions_retained") =
      Files.list(Paths.get(t.dir)).iterator().asScala.count(_.getFileName.toString.matches("v\\d+")).toDouble
  }

  /** The scrape front end over a (page, pet_type) enumeration frame. */
  def scrapeChain(pages: DataFrame, fetcher: Fetch.Fetcher): DataFrame = {
    val search = Fetch.fetchPages(Fetch.withSearchUrls(pages), "url", fetcher)
    val links  = Fetch.extractLinks(search, "html").select("link", "pet_type")
    Fetch.extractPetFields(Fetch.fetchPages(links, "link", fetcher), "html")
      .select(PetSchema.columns.map(col): _*)
  }

  def searchUrl(page: Int, tpe: String): String =
    s"https://www.petfinder.com/search/${tpe}s-for-adoption/?page=$page"

  /** The scrape lane: a (page, pet_type) file source run through `Fetch`
    * into `Ingest.start`, one `Trigger.AvailableNow` epoch per operation,
    * into its own small `KeyedTable` (the stream owns that table's batch
    * ids). A traced run's second half gets a fresh lane, so its two halves
    * never share a checkpoint.
    */
  final class ScrapeLane(run: Run, name: String) {
    import run._
    val dir      = s"$work/$name"
    val enumDir  = s"$dir/enum"
    val staged   = s"$dir/staged"
    val fetcher  = Gen.PageFetcher(seed, p("page_bytes"))
    val table    = new KeyedTable(spark, s"$dir/table", "link")
    val model    = new Gen.Model
    var quarantined = 0L
    var epoch    = 0
    private val enumSchema = "page INT, pet_type STRING"
    Files.createDirectories(Paths.get(enumDir))
    Files.createDirectories(Paths.get(staged))
    private lazy val streamed = scrapeChain(
      spark.readStream.schema(enumSchema).option("maxFilesPerTrigger", 1).json(enumDir), fetcher)
    private lazy val staging = spark.readStream.schema(PetSchema.schema).parquet(staged)

    def pagesOf(e: Int): Seq[(Int, String)] = {
      val n = p("pages_per_epoch") / 2
      (1 to n).flatMap(i => Seq((e * n + i, "dog"), (e * n + i, "cat")))
    }

    def runEpoch(): Unit = {
      val e = epoch; epoch += 1
      val pages = pagesOf(e)
      val tmp = Paths.get(s"$dir/enum-$e.tmp")
      Files.write(tmp, pages.map { case (pg, t) => s"""{"page":$pg,"pet_type":"$t"}""" }.asJava,
        StandardCharsets.UTF_8)
      Files.move(tmp, Paths.get(s"$enumDir/enum-$e.json"), StandardCopyOption.ATOMIC_MOVE)
      val q = op("batch") {
        val src =
          if (!traced) streamed
          else {
            // traced half only: materialize the fetch output first, so
            // Fetch and Ingest split into two spans
            spans("Fetch.extract") {
              scrapeChain(spark.read.schema(enumSchema).json(s"$enumDir/enum-$e.json"), fetcher)
                .repartition(1).write.mode("append").parquet(staged)
            }
            staging
          }
        spans("Ingest.start") {
          val q = Ingest.start(src, table, s"$dir/ckpt", Pipeline.ingestValid,
            Some(s"$dir/quarantine"), trigger = Trigger.AvailableNow())
          q.awaitTermination()
          q
        }
      }
      val prog = q.recentProgress.filter(_.numInputRows > 0).lastOption
      check(prog.isDefined, s"$name epoch $e: no micro-batch ran")
      prog.foreach { pr =>
        val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
        part("triggerExecution", d.getOrElse("triggerExecution", 0.0))
        if (traced) Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset")
          .foreach(k => add(s"Ingest.${k}_s", d.getOrElse(k, 0.0)))
      }
      // the epoch's expected effect, from what the fetcher served
      val hrefs   = pages.flatMap { case (pg, t) => fetcher.searchLinks(searchUrl(pg, t)) }
      val petRows = hrefs.filter(_.nonEmpty).map(h => fetcher.petFields(Gen.normalize(h)))
      val (valid, invalid) = petRows.partition(Gen.ingestValid)
      model.merge(valid)
      quarantined += invalid.size
      rows(phase) += valid.map(_(0)).distinct.size
      if (traced) {
        add("fetch.search_pages", pages.size)
        add("fetch.pet_rows", petRows.size)
        add("fetch.quarantined", invalid.size)
        add("fetch.page_bytes", pages.map { case (pg, t) => fetcher(searchUrl(pg, t)).length.toDouble }.sum +
          petRows.map(v => fetcher(v(0).toString).length.toDouble).sum)
        add("fetch.pages", pages.size + petRows.size)
      }
    }

    def verify(): Unit = {
      val got = table.read().map(_.select(PetSchema.columns.map(col): _*).collect()
        .map(r => r.getString(0) -> r).toMap).getOrElse(Map.empty)
      check(got.size == model.rows.size, s"$name: ${got.size} rows, expected ${model.rows.size}")
      model.rows.foreach { case (k, v) =>
        check(got.get(k).exists(sameRow(_, v)), s"$name: row $k differs from what the fetcher served")
      }
      val q = if (Files.exists(Paths.get(s"$dir/quarantine"))) spark.read.parquet(s"$dir/quarantine").count() else 0L
      check(q == quarantined, s"$name: quarantined $q rows, expected $quarantined")
    }
  }

  // ----------------------------------------------------------- workloads

  /** The reference's loop on one host: scrape epochs into a small stream-fed
    * table; keyed inserts (`Pipeline.ingestBatch`) and updates
    * (`KeyedTable.merge`) into the pets snapshot, a verification
    * compaction (`Ingest.compact`); `GET /pets`
    * (`Pipeline.serve`, JSON rows to the client) and `GET /pets.csv`
    * (`Pipeline.exportCsv`) over the same snapshot.
    */
  def lifecycle(run: Run): Unit = {
    import run._
    val snapRows = p("snapshot_rows")
    var nextId   = snapRows.toLong
    def newId(): Long = { nextId += 1; nextId - 1 }
    val model    = new Gen.Model
    val (table, firstLane) = setup { rep =>
      val dir = s"$work/table$rep"
      val snap = Gen.snapshot(seed, snapRows)
      val t = new KeyedTable(spark, dir, "link")
      t.publish(frame(snap))
      if (rep == 0) {
        inputHash = hashOf(snap.iterator)
        snap.foreach(v => model.rows(v(0).toString) = v)
      }
      (t, new ScrapeLane(run, s"scrape$rep"))
    }
    val lanes = mutable.ArrayBuffer(firstLane)
    var batchId = 0L
    val header  = PetSchema.columns.mkString(",")

    def insert(r: Int): Unit = {
      val b  = Gen.batch(seed, s"i$r", p("insert_rows"), Gen.InsertMix, update = false, () => newId(), nextId, r + 1)
      val df = frame(b)
      batchId += 1
      val id = batchId
      op("insert") {
        if (traced) spans("KeyedTable.read")(table.read())
        spans("Pipeline.ingestBatch")(Pipeline.ingestBatch(table, df, id))
      }
      val added = model.ingest(b)
      rows(phase) += added
      if (traced) { add("pipeline.offered", b.size); add("pipeline.accepted", added) }
      afterCommit(run, table, b.iterator.map(Gen.rowBytes).sum)
    }
    def update(r: Int): Unit = {
      val b  = Gen.batch(seed, s"u$r", p("update_rows"), Gen.UpdateMix, update = true, () => newId(), nextId, r + 1)
      val df = frame(b)
      batchId += 1
      val id = batchId
      op("update") {
        if (traced) spans("KeyedTable.read")(table.read())
        spans("KeyedTable.merge")(table.merge(df, id))
      }
      model.merge(b)
      rows(phase) += b.map(_(0)).distinct.size
      afterCommit(run, table, b.iterator.map(Gen.rowBytes).sum)
    }
    def compact(): Unit = {
      val got  = op("compact")(spans("Ingest.compact")(Ingest.compact(table, keepRule)))
      val want = model.compact()
      check(got.contains(want), s"compaction kept/dropped $got, expected $want")
      if (traced) { add("compact.kept", want._1); add("compact.dropped", want._2) }
      afterCommit(run, table, 0)
    }
    def serve(): Unit = {
      val out = op("serve") {
        val df = spans("KeyedTable.read")(table.read().get)
        spans("Pipeline.serve")(Pipeline.serve(df).toJSON.collect())
      }
      val n = model.rows.size
      val prefix = s"""{"total_count":$n,"""
      check(out.length == n, s"serve returned ${out.length} rows, the snapshot holds $n")
      check(out.forall(_.startsWith(prefix)), s"serve: a total_count differs from $n")
      rows(phase) += out.length
      if (traced) { add("serve.rows", out.length); add("serve.bytes", out.iterator.map(_.length.toLong).sum) }
    }
    def export(): Unit = {
      val path = s"$work/export"
      op("export") {
        val df = spans("KeyedTable.read")(table.read().get)
        spans("Export.write")(Pipeline.exportCsv(df, path))
      }
      val csvs = Dirs.dataFiles(path).filter(_.getFileName.toString.endsWith(".csv"))
      var lines = 0L
      csvs.foreach { f =>
        val s = Files.lines(f)
        try {
          val it = s.iterator().asScala
          if (it.hasNext) check(it.next() == header, s"CSV header of ${f.getFileName} is not PetSchema.columns")
          it.foreach(_ => lines += 1)
        } finally s.close()
      }
      check(lines == model.rows.size, s"CSV holds $lines rows, the snapshot ${model.rows.size}")
      rows(phase) += lines
      if (traced) { add("export.bytes", csvs.map(Files.size).sum.toDouble); add("export.files", csvs.size) }
    }

    /** One unit of the timed loop: one operation of each type. */
    val unit = Seq("batch", "insert", "update", "serve", "export", "compact")
    var lane = firstLane
    def step(kind: String, r: Int): Unit = kind match {
      case "batch"   => lane.runEpoch()
      case "insert"  => insert(r)
      case "update"  => update(r)
      case "serve"   => serve()
      case "export"  => export()
      case "compact" => compact()
    }
    // warm-up: one unit, and a second scrape epoch (its page parsing is
    // the slowest code to reach a steady state)
    warmup { unit.foreach(step(_, -1)); lane.runEpoch() }
    timed { r =>
      if (traced && lane == firstLane) { lane = new ScrapeLane(run, "scrape-traced"); lanes += lane }
      unit.foreach(step(_, r))
    }
    // correctness, outside the timed region
    val snap = table.read().get
    val n = snap.count()
    check(n == model.rows.size, s"row count $n, expected ${model.rows.size}")
    val links = snap.select("link").distinct().count()
    check(links == n, s"$links distinct links in $n rows")
    val sample = model.rows.keys.toSeq.sorted.filter(k => Gen.pick(seed, k, 900, 20) == 0).take(500)
    val got = snap.filter(col("link").isin(sample: _*)).select(PetSchema.columns.map(col): _*)
      .collect().map(r => r.getString(0) -> r).toMap
    sample.foreach(k => check(got.get(k).exists(sameRow(_, model.rows(k))), s"row $k differs from the expected row"))
    lanes.foreach(_.verify())
  }

  /** The reference-surface queries over a seeded corpus: each built with
    * `Registry.byName(q).run` and executed to a `noop` sink (which keeps the
    * final ORDER BY), in a seeded order per pass.
    */
  def queryMix(run: Run): Unit = {
    import run._
    val dir = setup { rep =>
      val d = s"$work/corpus$rep"
      Corpus.write(spark, d, seed, p("orders").toLong)
      d
    }
    extra("corpus_dir") = dir
    extra("corpus_tables") = Corpus.Tables
    // order-insensitive content hash of each table, computed by Spark
    inputHash = hashOf(Corpus.Tables.iterator.map { t =>
      val df = spark.read.parquet(s"$dir/$t.parquet")
      Array[Any](t, df.selectExpr("bit_xor(xxhash64(*))", "count(1)").head().mkString(","))
    })
    val resultRows = mutable.HashMap.empty[String, Long]
    // warm-up doubles as the correctness dump: each query's ordered result
    // in one parquet file, which run.py compares with DuckDB running the
    // query's oracle SQL over the same corpus
    warmup {
      MixQueries.foreach { q =>
        val out = s"$work/results/$q"
        Registry.byName(q).run(spark, dir).coalesce(1).write.mode("overwrite").parquet(out)
        resultRows(q) = spark.read.parquet(out).count()
        clearCaches()
      }
    }
    extra("results_dir") = s"$work/results"
    extra("oracle_sql") = MixQueries.map(q => q -> Registry.byName(q).oracle.getOrElse("")).toMap
    timed { pass =>
      MixQueries.sortBy(q => Gen.h(seed, s"pass$pass/$q", 800)).foreach { q =>
        // one operation in two job groups: build, then execution
        val c0 = Jvm.engineCpuNs()
        val t0 = System.nanoTime()
        val df = op("build", "")(spans("Registry.build")(Registry.byName(q).run(spark, dir)))
        op("query", "")(spans("Registry.exec")(df.write.format("noop").mode("overwrite").save()))
        record(q, (System.nanoTime() - t0) / 1e9, Jvm.engineCpuNs() - c0)
        rows(phase) += resultRows(q)
        clearCaches()
      }
      // traced half only: each table load timed on its own, after the pass
      // and in a job group of its own, so its schema-inference jobs are not
      // counted as the builds'
      if (traced) Corpus.Tables.foreach { t =>
        op("load", "")(spans("Tables.load")(graft.Tables.accessors(t)(spark, dir)))
      }
    }
  }

  // ---------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, out) = args
    require(Params.contains(workload), s"unknown workload $workload")
    val t0 = System.nanoTime()
    val spark = LocalSpark.session("4", s"perfbench-$workload")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, workload, seedS.toLong, secondsS.toDouble, traceS == "1", work)
    var error: Option[String] = None
    try workload match {
      case "lifecycle" => lifecycle(run)
      case "query_mix" => queryMix(run)
    } catch {
      case e: Throwable =>
        error = Some(e.toString.take(2000))
        e.printStackTrace()
    }
    finish(run, sessionS, error, out)
    spark.stop()
  }

  /** Derive the traced half's per-layer numbers and write the result. */
  def finish(run: Run, sessionS: Double, error: Option[String], out: String): Unit = {
    import run._
    def ops(k: String): Double = math.max(1L, opCount(k)).toDouble
    def c(k: String): OpCounters = Option(listener.byOp.get(k)).getOrElse(new OpCounters)
    def per(k: String, n: Double): Double = get(k) / math.max(1.0, n)
    if (trace) {
      Seq("insert", "update", "compact", "serve", "export", "batch", "query").foreach { k =>
        val x = c(k); val n = ops(k)
        layers(s"$k.jobs") = x.jobs / n
        layers(s"$k.stages") = x.stages / n
        layers(s"$k.tasks") = x.tasks / n
        layers(s"$k.task_s") = x.taskMs / 1e3 / n
        layers(s"$k.task_cpu_s") = x.cpuNs / 1e9 / n
        layers(s"$k.gc_s") = x.gcMs / 1e3 / n
        layers(s"$k.spill_bytes") = x.spill / n
        layers(s"$k.peak_exec_mem_mb") = x.peakMem / 1048576.0
      }
      // builds: one per query execution (table loads are counted apart)
      val b = c("build"); val builds = ops("query")
      layers("Tables.schema_jobs") = b.jobsByFile("Tables.scala/infer") / builds
      layers("Tables.schema_job_s") = b.jobSecByFile("Tables.scala/infer") / builds
      layers("Registry.build_jobs") = b.jobs / builds
      val commits = get("kt.commits")
      layers("KeyedTable.write_job_s") =
        Seq("insert", "update", "compact").map(k => c(k).jobSecByFile("KeyedTable.scala")).sum / math.max(1.0, commits)
      layers("KeyedTable.bytes_written") = per("kt.bytes", commits)
      layers("KeyedTable.files_written") = per("kt.files", commits)
      layers("KeyedTable.write_amp") = per("kt.amp_bytes", get("kt.offered"))
      val merges = ops("insert") + ops("update")
      layers("Relational.shuffle_write_bytes") = (c("insert").shuffleWrite + c("update").shuffleWrite) / merges
      layers("Relational.shuffle_read_bytes") = (c("insert").shuffleRead + c("update").shuffleRead) / merges
      layers("Pipeline.ingest_accepted_ratio") = per("pipeline.accepted", get("pipeline.offered"))
      layers("Pipeline.serve_rows") = per("serve.rows", ops("serve"))
      layers("Pipeline.serve_bytes") = per("serve.bytes", ops("serve"))
      layers("Export.bytes_written") = per("export.bytes", ops("export"))
      layers("Export.files_written") = per("export.files", ops("export"))
      Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset")
        .foreach(k => layers(s"Ingest.${k}_s") = per(s"Ingest.${k}_s", ops("batch")))
      layers("Ingest.quarantined_ratio") = per("fetch.quarantined", get("fetch.pet_rows"))
      layers("Ingest.compact_dropped_ratio") = per("compact.dropped", get("compact.kept") + get("compact.dropped"))
      layers("Fetch.page_bytes") = per("fetch.page_bytes", get("fetch.pages"))
      layers("Fetch.pet_rows") = per("fetch.pet_rows", ops("batch"))
      layers("Fetch.link_yield") = per("fetch.pet_rows", 12 * get("fetch.search_pages"))
    }
    layers("LocalSpark.session_s") = sessionS
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "params" -> params, "input_hash" -> inputHash,
      "session_s" -> sessionS, "setup_reps_s" -> setupReps, "warmup_s" -> warmupS,
      "samples" -> samples, "cpu_samples" -> cpuSamples, "parts" -> parts, "rows" -> rows, "wall_s" -> wall,
      "units" -> units,
      "attempted" -> attempted, "failures" -> failures, "error" -> error.orNull,
      "layers" -> layers,
      "spans" -> spans.all.map(s => Seq(s.name, s.start, s.end, s.parent, s.op)))
    result ++= extra
    Files.writeString(Paths.get(out), Json(result))
  }
}
