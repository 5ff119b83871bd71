package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (dev loop only — the driver always passes two): a
    // comma-separated query-name list restricting both the dump and the
    // oracle_sql.json, so check_oracle.py grades exactly the subset run.
    val only: Option[Set[String]] = args.lift(2).map(_.split(',').toSet)
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSpark.session(cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      // queries persist shared lineage and rely on the runner for cache
      // hygiene (DedupQueries cache-discipline note): without this the
      // 70+-query run accumulates every query's caches until LRU pressure.
      // Raw-RDD persists (materialized loops, lazy checkpoints) need the
      // full sweep — clearCache alone cannot see them (Bench.clearAllCaches)
      Bench.clearAllCaches(spark)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${BenchRecord.jstr(k)}: ${BenchRecord.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
