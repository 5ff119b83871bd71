package graft

import org.apache.spark.sql.SparkSession

import graft.streaming.{NioLocalFileSystem, NioLocalFs}

/** One builder for every local entry point (Verify, Bench, Explain, tests):
  * the flags that make results reproducible and oracle-comparable — UTC
  * session time zone, shuffle parallelism = cores, AQE on, the
  * TIMESTAMP(NANOS) shim for `events.parquet` (see Tables.events), and the
  * engine's session extensions, so `dot_long` and the §2.10 scalar names are
  * SQL-visible in every entry point without a manual register call (a
  * cluster deployment gets the same via
  * `--conf spark.sql.extensions=graft.GraftExtensions`), one codegen
  * class cache shared by every session (see the artifact-isolation line),
  * and a local filesystem that forks no child process
  * (`spark.hadoop.fs.file.impl` = [[graft.streaming.NioLocalFileSystem]],
  * `spark.hadoop.fs.AbstractFileSystem.file.impl` =
  * [[graft.streaming.NioLocalFs]]; see the filesystem lines): the stock
  * one forked ~119 processes per perfbench `lifecycle` unit.
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
      // The local filesystem, for both Hadoop APIs. On this classpath
      // `hive-exec-2.3.10-core.jar` registers Hive's ProxyLocalFileSystem
      // for `file:` and no native Hadoop library is present, so every local
      // create forked `chmod` (file and `.crc`), every status read forked
      // `ls -ld`, and every head publish fell through to
      // `FileContext.rename(OVERWRITE)` (the proxy's `rename` returns false
      // over an existing target), which forked `readlink` 4 times: ~119
      // child processes per perfbench `lifecycle` unit, and 2.8–5.9 ms of
      // JVM CPU per create and 8–10 ms (19 ms wall) per publish against
      // 0.2 ms for `java.nio` (4-core VM). graft.streaming.NioLocalFs does
      // each with one `java.nio` call, keeps the `.crc` files and their
      // read verification, and its `rename` over an existing file is one
      // rename(2) that returns true. Hadoop caches one `file:` FileSystem
      // per JVM and user, so the first session's conf decides (FsSpec pins
      // that a LocalSpark session resolves to it). HDFS and object stores
      // are untouched.
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
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
