package graft

import java.nio.file.Files

import java.util.concurrent.{CountDownLatch, TimeUnit}

import graft.streaming.{Fs, Head, KeyedTable, Layers}

/** The Hadoop-FileSystem port of the store filesystem ops (VERDICT r7 #1):
  * every path resolves through `org.apache.hadoop.fs.FileSystem`, so the
  * same code serves `file:` in tests and HDFS/object stores in deployment.
  * Pins the pointer swap's rename-overwrite semantics THROUGH the
  * abstraction — the one primitive every store's crash story rests on.
  */
class FsSpec extends SparkTestBase {

  private def tmpDir(): String =
    Files.createTempDirectory("graft_fs").toString

  test("paths resolve by scheme: explicit file: URI and bare path see the same tree") {
    val dir = tmpDir()
    Fs.mkdirs(spark, s"$dir/batch=3")
    Fs.mkdirs(spark, s"file:$dir/batch=-2")
    // both spellings list both children — proof the resolution is
    // scheme-driven (an hdfs:// path would route to the DFS impl the same way)
    assert(Layers.ids(spark, dir).sorted == Seq(-2L, 3L))
    assert(Layers.ids(spark, s"file:$dir").sorted == Seq(-2L, 3L))
    assert(Fs.isDirectory(spark, s"file:$dir/batch=3"))
  }

  test("both spellings of one store share its writer lock") {
    val dir  = tmpDir()
    val held = new CountDownLatch(1)
    val done = new CountDownLatch(1)
    val holder = new Thread(() =>
      Head.locked(spark, s"file:$dir") { held.countDown(); done.await(5, TimeUnit.SECONDS); () })
    holder.start()
    assert(held.await(5, TimeUnit.SECONDS))
    @volatile var entered = false
    val other = new Thread(() => Head.locked(spark, dir) { entered = true })
    other.start()
    other.join(200)
    assert(!entered, "the bare path took the lock the file: URI holds")
    done.countDown()
    holder.join(10000); other.join(10000)
    assert(entered)
  }

  test("deleteRecursively removes a nested tree through the abstraction") {
    val dir = tmpDir()
    Fs.writeString(spark, s"$dir/a/b/c.txt", "leaf") // parents auto-created
    assert(Fs.exists(spark, s"$dir/a/b/c.txt"))
    Fs.deleteRecursively(spark, s"$dir/a")
    assert(!Fs.exists(spark, s"$dir/a"))
    assert(Fs.exists(spark, dir))
  }

  test("renameOverwrite publishes over an existing pointer and consumes the tmp") {
    val dir = tmpDir()
    val ptr = s"$dir/_LATEST"
    Fs.writeString(spark, s"$dir/_LATEST.tmp.0", "0 -1")
    Fs.renameOverwrite(spark, s"$dir/_LATEST.tmp.0", ptr) // fresh destination
    assert(Fs.readString(spark, ptr).contains("0 -1"))
    Fs.writeString(spark, s"$dir/_LATEST.tmp.1", "1 7")
    Fs.renameOverwrite(spark, s"$dir/_LATEST.tmp.1", ptr) // overwrite path
    assert(Fs.readString(spark, ptr).contains("1 7"))
    // the staged tmp must be GONE (moved, not copied) — a lingering tmp is
    // how half-published pointers resurrect on a crashed node
    assert(!Fs.exists(spark, s"$dir/_LATEST.tmp.1"))
    assert(!Fs.exists(spark, s"$dir/_LATEST.tmp.0"))
  }

  test("KeyedTable's publish/read/gc cycle runs wholly through the abstraction") {
    val dir = tmpDir() + "/kt"
    import spark.implicits._
    val t = new KeyedTable(spark, dir, "k")
    t.publish(Seq((1L, "a")).toDF("k", "v"), Some(0L))
    t.publish(Seq((1L, "b")).toDF("k", "v"), Some(1L))
    assert(t.latestVersion().contains(1L))
    assert(t.alreadyApplied(1L) && !t.alreadyApplied(2L))
    assert(t.read().get.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "b")))
    // no staged pointer tmp survives a publish
    assert(!Fs.childNames(spark, dir).exists(_.startsWith("_LATEST.tmp")))
    // the pointer itself is the only non-snapshot entry
    assert(Fs.childNames(spark, dir).count(_.matches("v\\d+")) <= 3)
  }
}
