package graft

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Property-style invariants for the merge/window combinators (SURVEY.md
  * §5.2#3): the J4/P3 upsert laws from pet_scraper.py:431-466 under seeded
  * random inputs, and the distributed paginate vs the single-partition
  * global window it replaces (VERDICT r1 #5).
  */
class RelationalSpec extends SparkTestBase {

  import spark.implicits._

  private def randTable(rng: Random, keys: Seq[String]): Seq[(String, Option[String], Option[Int])] =
    keys.map(k => (k,
      if (rng.nextBoolean()) Some(s"v${rng.nextInt(100)}") else None,
      if (rng.nextBoolean()) Some(rng.nextInt(1000)) else None))

  test("upsertMerge: one row per key, union of keys, update-wins, null-keeps-existing") {
    val rng = new Random(42)
    for (_ <- 1 to 10) {
      val existingKeys = rng.shuffle((1 to 30).map(i => s"k$i")).take(rng.nextInt(20) + 5)
      val updateKeys   = rng.shuffle((1 to 40).map(i => s"k$i")).take(rng.nextInt(20) + 5)
      val existing = randTable(rng, existingKeys).toDF("link", "name", "age")
      val updates  = randTable(rng, updateKeys).toDF("link", "name", "age")
      val out      = Relational.upsertMerge(existing, updates, "link").collect()

      val allKeys = (existingKeys ++ updateKeys).toSet
      assert(out.map(_.getString(0)).toSet == allKeys, "key set = union")
      assert(out.length == allKeys.size, "exactly one row per key")

      val eMap = existing.collect().map(r => r.getString(0) -> r).toMap
      val uMap = updates.collect().map(r => r.getString(0) -> r).toMap
      out.foreach { r =>
        val k = r.getString(0)
        val expectName = uMap.get(k).flatMap(u => Option(u.get(1)))
          .orElse(eMap.get(k).flatMap(e => Option(e.get(1)))).orNull
        assert(Option(r.get(1)).orNull == expectName, s"name for $k: update-wins/null-keeps")
      }
    }
  }

  test("insertNew equals anti-join then upsertMerge: null keys, evolved and narrow columns") {
    val rng = new Random(7)
    def key(i: Int): String = if (i == 0) null else s"k$i"
    for (_ <- 1 to 5) {
      val existing = rng.shuffle((0 to 30).toList).take(12).map(i =>
        (key(i), Option.when(rng.nextBoolean())(s"e$i"), Option.when(rng.nextBoolean())(i)))
        .toDF("link", "name", "age")
      // one row per key (nulls included); `extra` is update-only, `age` absent
      val inserts = rng.shuffle((0 to 40).toList).take(15).map(i =>
        (key(i), Option.when(rng.nextBoolean())(s"u$i"), Option.when(rng.nextBoolean())(i * 2L)))
        .toDF("link", "name", "extra")
      val got  = Relational.insertNew(existing, inserts, "link")
      val want = Relational.upsertMerge(existing,
        Relational.antiJoin(inserts, existing, "link"), "link")
      assert(got.columns.toSeq == Seq("link", "name", "age", "extra"))
      assert(got.schema == want.schema)
      assert(got.collect().map(_.toString).sorted.toSeq == want.collect().map(_.toString).sorted.toSeq)
    }
  }

  test("upsertMerge: absent update columns preserve existing values (P3)") {
    val existing = Seq(("a", "Rex", 3), ("b", "Bella", 5)).toDF("link", "name", "age")
    val updates  = Seq(("a", "Max")).toDF("link", "name") // no age column
    val out = Relational.upsertMerge(existing, updates, "link")
      .orderBy("link").collect()
    assert(out(0) == Row("a", "Max", 3))   // age preserved
    assert(out(1) == Row("b", "Bella", 5))
  }

  test("upsertMerge: a new update column widens the schema additively") {
    val existing = Seq(("a", "Rex"), ("b", "Bella")).toDF("link", "name")
    val updates  = Seq(("b", "Bee", 5), ("c", "Cat", 2)).toDF("link", "name", "age")
    val out = Relational.upsertMerge(existing, updates, "link")
    // new column appends after the existing ones; untouched rows get null
    assert(out.columns.toSeq == Seq("link", "name", "age"))
    assert(out.orderBy("link").collect().toSeq == Seq(
      Row("a", "Rex", null), Row("b", "Bee", 5), Row("c", "Cat", 2)))
    // a later NARROW batch must not un-evolve the schema or null the data
    val narrow = Relational.upsertMerge(out, Seq(("a", "Ace")).toDF("link", "name"), "link")
    assert(narrow.columns.toSeq == Seq("link", "name", "age"))
    assert(narrow.orderBy("link").collect().toSeq == Seq(
      Row("a", "Ace", null), Row("b", "Bee", 5), Row("c", "Cat", 2)))
  }

  test("upsertMerge: re-merging the same batch is a fixpoint (J3+J4 idempotence)") {
    val existing = Seq(("a", "1"), ("b", "2")).toDF("link", "v")
    val updates  = Seq(("b", "9"), ("c", "3")).toDF("link", "v")
    val once  = Relational.upsertMerge(existing, updates, "link")
    val twice = Relational.upsertMerge(once, updates, "link")
    assert(once.orderBy("link").collect().toSeq == twice.orderBy("link").collect().toSeq)
  }

  test("paginate matches the global window numbering, without the global window") {
    val rng = new Random(7)
    val data = rng.shuffle((1 to 500).toList).map(i => (i.toLong, s"r$i"))
    val df = data.toDF("id", "payload").repartition(8)
    val got = Relational.paginate(df, Seq(col("id")), pageSize = 50)
      .select("id", "rn", "page").as[(Long, Long, Long)].collect().toMap2
    val want = df.withColumn("rn", row_number().over(Window.orderBy(col("id"))).cast("long"))
      .withColumn("page", floor((col("rn") - 1) / 50) + 1)
      .select("id", "rn", "page").as[(Long, Long, Long)].collect().toMap2
    assert(got == want)
  }

  private implicit class TupleOps(rows: Array[(Long, Long, Long)]) {
    def toMap2: Map[Long, (Long, Long)] = rows.map(t => t._1 -> (t._2, t._3)).toMap
  }

  test("fixedProjection: declared order, string cast, empty-fill for absent columns") {
    val df  = Seq((1, "Rex", Some(true)), (2, null, None)).toDF("id", "name", "ok")
    val out = Relational.fixedProjection(df, Seq("name", "missing", "id", "ok"))
    assert(out.columns.toSeq == Seq("name", "missing", "id", "ok"))
    val rows = out.orderBy("id").collect()
    assert(rows(0) == Row("Rex", "", "1", "true"))
    assert(rows(1) == Row("", "", "2", ""))
  }

  test("topKPerGroup keeps k rows per group in order") {
    val df = Seq(("g1", 3), ("g1", 1), ("g1", 2), ("g2", 9)).toDF("g", "x")
    val out = Relational.topKPerGroup(df, Seq(col("g")), Seq(col("x").asc), 2)
      .select("g", "x").orderBy("g", "x").collect()
    assert(out.toSeq == Seq(Row("g1", 1), Row("g1", 2), Row("g2", 9)))
  }

  test("saltedJoin is bag-equal to the plain equi-join under key skew") {
    val rng  = new Random(11)
    // 90% of rows share one hot key
    val big = (1 to 1000).map(i =>
      (if (rng.nextInt(10) < 9) "hot" else s"k${rng.nextInt(5)}", i)).toDF("k", "v")
    val small = Seq(("hot", "H"), ("k1", "A"), ("k3", "B")).toDF("k", "tag")
    val plain  = big.join(small, "k").select("k", "v", "tag")
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val salted = Relational.saltedJoin(big, small, "k", salts = 8)
      .select("k", "v", "tag")
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(salted == plain)
  }

  test("compactionSummary counts survivors and removals in one pass") {
    val df  = Seq(1, 2, 3, 4, 5).toDF("x")
    val out = Relational.compactionSummary(df, col("x") <= 2).collect()(0)
    assert(out == Row(2L, 3L, 5L))
  }

  test("asofJoin carries the full build payload, same-instant inclusive, null before first") {
    val probe = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (1L, 5L, "p0"), (2L, 50L, "px"))
      .toDF("k", "t", "pname")
    val build = Seq((1L, 10L, "b10", 100), (1L, 15L, "b15", 150), (9L, 1L, "b9", 9))
      .toDF("k", "t", "bname", "bval")
    val got = Relational.asofJoin(probe, build, "k", "t")
      .select("k", "t", "pname", "asof_bname", "asof_bval", "asof_t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.get(3)), Option(r.get(4)), Option(r.get(5)))).toSet
    assert(got == Set(
      (1L, 5L, "p0", None, None, None),                              // before first build row
      (1L, 10L, "p1", Some("b10"), Some(100), Some(10L)),            // same-instant inclusive
      (1L, 20L, "p2", Some("b15"), Some(150), Some(15L)),            // latest prior wins
      (2L, 50L, "px", None, None, None)))                            // key with no build rows
  }

  test("asofJoin carries the latest build row ATOMICALLY when its payload has nulls") {
    // per-column carriage would stitch bval=100 (from ts=10) onto bname=b15
    // (from ts=15) — the emitted row must be exactly the ts=15 build row
    val probe = Seq((1L, 20L, "p")).toDF("k", "t", "pname")
    val build = Seq((1L, 10L, "b10", Option(100)), (1L, 15L, "b15", Option.empty[Int]))
      .toDF("k", "t", "bname", "bval")
    val r = Relational.asofJoin(probe, build, "k", "t")
      .select("asof_bname", "asof_bval", "asof_t").collect()(0)
    assert(r.getString(0) == "b15" && r.isNullAt(1) && r.getLong(2) == 15L,
      s"stitched build row: $r")
  }

  test("asofJoin stays join-free (single keyed window, no physical join)") {
    val probe = Seq((1L, 10L, "p")).toDF("k", "t", "pname")
    val build = Seq((1L, 5L, "b")).toDF("k", "t", "bname")
    val p = Relational.asofJoin(probe, build, "k", "t")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"asofJoin produced a physical join:\n${p.take(1200)}")
  }
}
