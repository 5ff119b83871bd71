package graft

import org.apache.spark.sql.SparkSession

/** One builder for every local entry point (Verify, Bench, Explain, tests):
  * the flags that make results reproducible and oracle-comparable — UTC
  * session time zone, shuffle parallelism = cores, AQE on, the
  * TIMESTAMP(NANOS) shim for `events.parquet` (see Tables.events), and the
  * engine's session extensions, so `dot_long` and the §2.10 scalar names are
  * SQL-visible in every entry point without a manual register call (a
  * cluster deployment gets the same via
  * `--conf spark.sql.extensions=graft.GraftExtensions`), and one codegen
  * class cache shared by every session (see the artifact-isolation line).
  */
object LocalSpark {
  def session(cpus: String, appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The JVM-wide whole-stage-codegen class cache defaults to 100
      // entries — far under this engine's working set (144 queries × 5–20
      // codegen units each), so compiled kernels from a query's warm-up
      // were evicted by the queries between its warm-up and its timed/real
      // evaluation and Janino recompiled them on the hot path (measured
      // r18: a 29-query session at sf0.1 ran 25.0 s @ 100 entries vs
      // 21.1 s @ 4096, both zero-flag — guide §1.2 "per-task work"; the
      // recompiles were also position-dependent noise the contention
      // sensors could not attribute). 4096 covers the whole engine with
      // bounded memory (compiled classes are KBs each); any long-lived
      // production session serving many operators wants the same.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // Spark keys that same class cache by (context classloader, source),
      // and artifact isolation (default on) gives every session UUID its
      // own executor classloader. Each `Ingest.start` runs in a cloned
      // session with a fresh UUID, so every streaming epoch recompiled the
      // classes the last epoch had compiled from the same source, and the
      // fresh classes started out interpreted (measured: a resumed epoch
      // of StreamingSpec's query compiled 7 classes with isolation on, 0
      // with it off; with this and the one-job `Ingest.compact`, perfbench
      // `lifecycle --trace 1` on 4 cores read 44 → 18 compiles, 0.45 →
      // 0.16 s of compile time). The engine adds no session artifacts, so
      // isolation protects nothing here. A cluster that runs
      // `Ingest.runEpoch` once per epoch wants the same `--conf`.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // getOrCreate may return a pre-existing session the extensions config
    // never reached (extensions only apply at session BUILD time); register
    // directly too — both paths are idempotent. This also covers the UDF
    // names, which extensions can't inject.
    GraftExtensions.register(s)
    s
  }
}
