package graft

import java.nio.file.Files

import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.streaming.{Fs, Layers}

/** The layer store format's own listing, head and schema rules. The
  * protocol itself (append, replay guard, rebuild, generational fold,
  * clear) is pinned through its stores: AnnIndexSpec, IncrementalDedupSpec,
  * PackingSpec, CrossOpCrashSpec, CommitReplaySpec and StoreRaceSpec.
  */
class LayersSpec extends SparkTestBase {

  test("layerIds ignores non-layer children and missing roots") {
    val dir = Files.createTempDirectory("graft_layers").toString
    assert(Layers.ids(spark, s"$dir/absent").isEmpty)
    Fs.mkdirs(spark, s"$dir/batch=0")
    Fs.mkdirs(spark, s"$dir/v3")
    Fs.writeString(spark, s"$dir/_LATEST", "x")
    assert(Layers.ids(spark, dir) == Seq(0L))
    assert(Fs.childNames(spark, dir).toSet == Set("batch=0", "v3", "_LATEST"))
    // `_LATEST` is the store's head: a garbage head fails the read loudly
    val e = intercept[IllegalStateException](Layers.read(spark, dir))
    assert(e.getMessage.contains("unreadable head"))
  }

  test("a store reads with its head's schema: no inference job, columns typed as written") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_layers").toString + "/store"
    Layers.append(Seq((7L, 3)).toDF("id", "cid"), dir, 0L, "cid")
    Layers.append(Seq((8L, 4)).toDF("id", "cid"), dir, 1L, "cid")
    val (rows, jobs) = jobsDuring(Layers.scan(spark, dir))
    assert(jobs.isEmpty, s"a layer scan ran ${jobs.size} job(s) before any action")
    assert(rows.schema.map(f => f.name -> f.dataType) ==
      Seq("id" -> LongType, "batch" -> LongType, "cid" -> IntegerType))
    assert(rows.as[(Long, Long, Int)].collect().toSet == Set((7L, 0L, 3), (8L, 1L, 4)))
  }
}
