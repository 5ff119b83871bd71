package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.model.PetSchema
import graft.streaming.{Ingest, KeyedTable}

/** The lifecycle's store, stream, export and load paths start no child
  * process on the local filesystem (graft.streaming.NioLocalFs). The kernel
  * adds a reaped child's page faults and CPU time to its parent's
  * `cminflt`, `cutime` and `cstime` (`/proc/self/stat` fields 11, 16 and
  * 17), so a body that forks even once moves them.
  */
class ForkFreeSpec extends SparkTestBase {

  import spark.implicits._

  private val stat = Paths.get("/proc/self/stat")

  /** (cminflt, cutime, cstime) of this JVM. */
  private def reapedChildren(): (Long, Long, Long) = {
    val s = new String(Files.readAllBytes(stat))
    // fields after "pid (comm) ": the first is field 3
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    (f(11 - 3).toLong, f(16 - 3).toLong, f(17 - 3).toLong)
  }

  /** The counters once no reaped child has landed for a second after a full
    * GC. A dropped session is collected by Spark's ArtifactManager cleaner,
    * which forks `rm -rf` for the session's artifact directory
    * (`JavaUtils.deleteRecursively`); every stream clones a session, so the
    * sessions earlier code dropped are settled before the window opens.
    */
  private def settled(): (Long, Long, Long) = {
    System.gc()
    val deadline = System.nanoTime() + 30L * 1000000000L
    var last = reapedChildren()
    Thread.sleep(1000)
    var now = reapedChildren()
    while (now != last && System.nanoTime() < deadline) {
      last = now; Thread.sleep(1000); now = reapedChildren()
    }
    now
  }

  test("20 commits, a compaction, a stream epoch with quarantine, an export and a load fork nothing") {
    assume(Files.isReadable(stat), "needs Linux /proc")
    def run(round: Int): Unit = {
      val dir = Files.createTempDirectory(s"graft-fork-$round").toString
      val src = s"$dir/src"
      Seq(("a", "Rex", 1L), ("x", "", 2L)).toDF("link", "name", "n")
        .coalesce(1).write.parquet(src)
      Seq((1L, "one"), (2L, "two")).toDF("id", "v").write.parquet(s"$dir/t.parquet")
      val table    = new KeyedTable(spark, s"$dir/table", "link")
      val streamed = new KeyedTable(spark, s"$dir/streamed", "link")

      // the first round pays the JVM's one-time set-up (Hadoop's Shell class
      // forks `setsid` once when it loads); the second is measured
      val before = settled()
      (0L until 20L).foreach(b =>
        table.merge(Seq((s"k$b", s"name$b", b)).toDF("link", "name", "n"), batchId = b))
      Ingest.compact(table, col("n") % 2 === 0)
      val stream = Ingest.start(
        updates = spark.readStream.schema("link string, name string, n long").parquet(src),
        table = streamed,
        checkpointDir = s"$dir/ckpt",
        valid = trim(col("name")) =!= "",
        quarantineDir = Some(s"$dir/quarantine"),
        trigger = Trigger.AvailableNow())
      stream.awaitTermination()
      Pipeline.exportCsv(table.read().get.select(PetSchema.schema.fields.toSeq.map(f =>
        if (f.name == "link") col("link") else lit(null).cast(f.dataType).as(f.name)): _*),
        s"$dir/csv", singleFile = true)
      assert(Tables.load(spark, dir, "t").count() == 2)
      val after = reapedChildren()
      // the stream holds its cloned session, so it is not collected (and its
      // artifact directory not removed) inside the window
      assert(!stream.isActive)

      assert(table.read().get.count() == 10)
      assert(streamed.read().get.select("link").as[String].collect().toSeq == Seq("a"))
      assert(spark.read.parquet(s"$dir/quarantine").count() == 1)
      if (round == 1)
        assert(after == before, s"(cminflt, cutime, cstime) moved from $before to $after")
    }
    run(0)
    run(1)
  }
}
