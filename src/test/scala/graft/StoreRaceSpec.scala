package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions.{col, udf}

import graft.operators.AnnIndex
import graft.streaming.{Ingest, KeyedTable, Layers}

/** Two writers on one store, in two threads: each write must survive the
  * other. The interleaving that loses an update is forced with bounded
  * latches (5 s): the first writer pauses in the middle of its write until
  * the second has returned. With the store's writer lock the second writer
  * cannot start, so the pause times out and the writes run one after the
  * other.
  */
class StoreRaceSpec extends SparkTestBase {

  import spark.implicits._

  private def tmp(tag: String): String = Files.createTempDirectory(s"race_$tag").toString

  /** Run `a` on a new thread and `b` on this one once `a` signals `started`;
    * rethrow the first failure of either.
    */
  private def race(started: CountDownLatch)(a: => Unit)(b: => Unit): Unit = {
    @volatile var failed: Option[Throwable] = None
    val t = new Thread(() => try a catch { case e: Throwable => failed = Some(e) })
    t.start()
    try {
      assert(started.await(60, TimeUnit.SECONDS), "the first writer never reached its pause")
      b
    } finally t.join(120000)
    assert(!t.isAlive, "the first writer did not finish")
    failed.foreach(throw _)
  }

  test("a batch commit racing Ingest.compact keeps the commit's rows and the compaction's drops") {
    val table = new KeyedTable(spark, tmp("kt"), "link")
    table.publish(Seq(("a", 1), ("b", 9)).toDF("link", "n"))
    val batch     = Seq(("c", 2)).toDF("link", "n")
    val folding   = new CountDownLatch(1)
    val compacted = new CountDownLatch(1)
    race(folding) {
      table.commit(0L) { prev =>
        folding.countDown()
        compacted.await(5, TimeUnit.SECONDS)
        KeyedTable.upsert(prev, batch, "link", None)
      }
    } {
      assert(Ingest.compact(table, col("n") < 5).nonEmpty)
      compacted.countDown()
    }
    assert(table.read().get.select("link").as[String].collect().toSet == Set("a", "c"),
      "the compaction dropped b and the commit added c; both must survive")
  }

  test("an appendOnce racing a store compaction keeps the appended layer") {
    import StoreRaceSpec.{appended, folding, gate}
    val store = tmp("layers") + "/vectors"
    Layers.appendOnce(spark, store, 0L)(Seq(1L, 2L).toDF("vec_id"))
    folding = new CountDownLatch(1)
    appended = new CountDownLatch(1)
    // the compaction's tombstone side pauses inside the fold's write job
    val tombs = spark.range(1).select(gate().as("vec_id"))
    race(folding) {
      AnnIndex.compactStore(spark, store, Seq.empty, sweep = true, minus = Some(tombs))
    } {
      assert(Layers.appendOnce(spark, store, 1L)(Seq(3L).toDF("vec_id")))
      appended.countDown()
    }
    assert(Layers.read(spark, store).get.as[Long].collect().toSet == Set(1L, 2L, 3L),
      "the appended layer was swept by a compaction that never read it")
  }
}

object StoreRaceSpec {
  // read by the executor-side gate, so they live in an object, not a closure
  @volatile var folding, appended = new CountDownLatch(0)

  /** A one-row id column that signals `folding` and then waits (≤ 5 s) for
    * `appended`; nondeterministic, so it runs inside the job that reads it.
    */
  val gate = udf { () =>
    folding.countDown()
    appended.await(5, TimeUnit.SECONDS)
    -1L
  }.asNondeterministic()
}
