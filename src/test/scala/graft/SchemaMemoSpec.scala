package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructType, TimestampType}

import graft.streaming.KeyedTable

/** Pins the resolved-once parquet schemas: [[Tables]]' memo keyed by file
  * set and inference confs, and [[KeyedTable]]'s schemas kept in its head.
  * Jobs are counted the way perfbench's `OpListener` counts schema
  * inference: a job started outside any SQL execution (no
  * `spark.sql.execution.id`) is a footer-reading inference scan.
  */
class SchemaMemoSpec extends SparkTestBase {

  private val Sf = "/root/testdata/sf0.001"

  /** `body`'s result and the number of jobs it started outside a SQL execution. */
  private def inferenceJobs[T](body: => T): (T, Int) = {
    val (out, jobs) = jobsDuring(body)
    (out, jobs.count(!_.inExecution))
  }

  private def tempDir(name: String): String =
    Files.createTempDirectory(s"graft-$name").toString

  /** Write `rows` of a hand-written parquet `schema` to `file` (types Spark
    * cannot write itself, such as TIMESTAMP(NANOS) or un-annotated binary).
    */
  private def writeRaw(file: String, schema: String)(rows: (SimpleGroupFactory => Group)*): Unit = {
    val mt = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new Path(file)).withType(mt)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    val f = new SimpleGroupFactory(mt)
    try rows.foreach(r => w.write(r(f)))
    finally w.close()
  }

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body
    finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("a second load of every corpus table runs no inference job and equals fresh inference") {
    Tables.accessors.keys.toSeq.sorted.foreach { name =>
      Tables.accessors(name)(spark, Sf) // resolves (or finds) the schema
      val (df, jobs) = inferenceJobs(Tables.accessors(name)(spark, Sf))
      assert(jobs == 0, s"$name: second load ran $jobs inference jobs")
      val fresh = spark.read.parquet(s"$Sf/$name.parquet").schema
      val want =
        if (name != "events") fresh
        else StructType(fresh.map(f => if (f.name == "ts") f.copy(dataType = TimestampType) else f))
      assert(df.schema == want, s"$name: memo schema ${df.schema} differs from inference $want")
    }
  }

  test("a table rewritten in place is re-inferred: the key holds lengths and modification times") {
    import spark.implicits._
    val src = tempDir("schema-memo-src")
    def partFile(dir: String): java.nio.file.Path =
      Files.list(Paths.get(dir)).iterator().asScala
        .find(p => p.getFileName.toString.startsWith("part-")).get
    def written(name: String, df: org.apache.spark.sql.DataFrame): java.nio.file.Path = {
      df.coalesce(1).write.parquet(s"$src/$name")
      partFile(s"$src/$name")
    }
    val x = written("x", Seq(1L, 2L).toDF("a"))
    val y = written("y", Seq(1L, 2L).toDF("b"))
    val z = written("z", Seq((1L, "p"), (2L, "q")).toDF("a", "c"))
    require(Files.size(x) == Files.size(y), "fixture: x and y must have one length")
    require(Files.size(x) != Files.size(z), "fixture: z must differ in length")

    // one data file under a fixed name, no checksum files beside it
    val root = tempDir("schema-memo-rewrite")
    val target = Paths.get(root, "t.parquet", "part-0.parquet")
    Files.createDirectories(target.getParent)
    val t0 = 1700000000000L
    def place(from: java.nio.file.Path, mtime: Long): Unit = {
      Files.copy(from, target, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(target, FileTime.fromMillis(mtime))
    }
    def load() = inferenceJobs(Tables.load(spark, root, "t"))

    place(x, t0)
    assert(load()._1.columns.toSeq == Seq("a"))
    assert(load()._2 == 0, "an unchanged file set must hit the memo")
    // same name, same length, new modification time
    place(y, t0 + 10000)
    val (afterY, yJobs) = load()
    assert(yJobs > 0, "a rewritten file must be re-inferred")
    assert(afterY.columns.toSeq == Seq("b"), "a key without modification times reuses x's schema")
    assert(afterY.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // same name, same modification time, new length
    place(z, t0 + 10000)
    val afterZ = load()._1
    assert(afterZ.columns.toSeq == Seq("a", "c"), "a key without lengths reuses y's schema")
    assert(afterZ.orderBy("a").collect().map(_.getString(1)).toSeq == Seq("p", "q"))
  }

  test("toggling an inference conf between two loads gives the type inference gives") {
    val root = tempDir("schema-memo-confs")
    Files.createDirectories(Paths.get(root, "nanos.parquet"))
    Files.createDirectories(Paths.get(root, "bin.parquet"))
    writeRaw(s"$root/nanos.parquet/part-0.parquet",
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")(
      _.newGroup().append("ts", 1700000000123456789L))
    writeRaw(s"$root/bin.parquet/part-0.parquet", "message m { required binary s; }")(
      _.newGroup().append("s", "pet"))
    def loaded(name: String) = Tables.load(spark, root, name).schema("ts")
    def inferred(name: String) = spark.read.parquet(s"$root/$name.parquet").schema("ts")

    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(nanos, "true") {
      assert(loaded("nanos") == inferred("nanos"))
      assert(loaded("nanos").dataType == LongType)
    }
    withConf(nanos, "false") {
      // inference refuses TIMESTAMP(NANOS) without the conf; the memo must
      // not answer with the LongType resolved under the other value
      val want = scala.util.Try(inferred("nanos"))
      val got  = scala.util.Try(loaded("nanos"))
      assert(want.isFailure == got.isFailure, s"inference $want, memo load $got")
      want.foreach(w => assert(got.get == w))
      got.failed.foreach(e => assert(e.getClass == want.failed.get.getClass))
    }
    withConf(nanos, "true")(assert(loaded("nanos").dataType == LongType))

    def binType(v: String) = withConf("spark.sql.parquet.binaryAsString", v) {
      val t = Tables.load(spark, root, "bin").schema("s")
      assert(t == spark.read.parquet(s"$root/bin.parquet").schema("s"))
      t.dataType
    }
    assert(binType("false") == BinaryType)
    assert(binType("true") == StringType)
    assert(binType("false") == BinaryType)
  }

  test("KeyedTable reads its own publish with no inference job and sees a foreign evolved version") {
    import spark.implicits._
    val dir = tempDir("schema-memo-kt")
    val kt = new KeyedTable(spark, dir, "id")
    val v0 = kt.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    val (own, ownJobs) = inferenceJobs(kt.read().get)
    assert(ownJobs == 0, s"read after its own publish ran $ownJobs inference jobs")
    assert(own.schema == spark.read.parquet(s"$dir/v$v0").schema)
    assert(own.count() == 2)

    // another instance on the same directory evolves the schema additively
    val other = new KeyedTable(spark, dir, "id")
    val v1 = other.publish(Seq((1L, "a", 10L), (3L, "c", 30L)).toDF("id", "name", "score"))
    assert(v1 == v0 + 1)
    // the schema is the head's: a version published elsewhere reads with none
    val (seen, seenJobs) = inferenceJobs(kt.read().get)
    assert(seenJobs == 0, s"a version published elsewhere ran $seenJobs inference jobs")
    assert(seen.columns.toSeq == Seq("id", "name", "score"))
    assert(seen.schema == spark.read.parquet(s"$dir/v$v1").schema)
    assert(seen.orderBy("id").select("score").as[Long].collect().toSeq == Seq(10L, 30L))
    // a fresh instance (a restarted driver) reads with no inference either
    assert(inferenceJobs(new KeyedTable(spark, dir, "id").read().get)._2 == 0)
    // diff reads both versions the same way
    val statuses = kt.diff(v0, v1).orderBy("id").as[(Long, String)].collect().toSeq
    assert(statuses == Seq((2L, "removed"), (3L, "added")))
  }
}
