package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.streaming.{Fs, Head, KeyedTable, Layers, NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

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

  test("a LocalSpark session resolves both spellings to the fork-free local filesystem") {
    val dir  = tmpDir()
    val conf = spark.sessionState.newHadoopConf()
    Seq(dir, s"file:$dir").foreach { p =>
      val (fs, _) = Fs.resolve(spark, p)
      assert(fs.getClass == classOf[NioLocalFileSystem], s"$p resolved to ${fs.getClass}")
      val afs = FileContext.getFileContext(new Path(p).toUri, conf).getDefaultFileSystem
      assert(afs.getClass == classOf[NioLocalFs], s"$p resolved to ${afs.getClass} in FileContext")
    }
  }

  test("a publish over an existing head takes the FileSystem rename branch") {
    val dir = tmpDir()
    val (fs, _) = Fs.resolve(spark, dir)
    Fs.writeString(spark, s"$dir/_LATEST", "old head")
    Fs.writeString(spark, s"$dir/_LATEST.tmp.1", "new head")
    assert(fs.rename(new Path(s"$dir/_LATEST.tmp.1"), new Path(s"$dir/_LATEST")),
      "rename over an existing head returned false, so the publish fell back to FileContext")
    // the checksum moved with the file: the read verifies it
    assert(Fs.readString(spark, s"$dir/_LATEST").contains("new head"))
    assert(Fs.childNames(spark, dir).filter(_.contains("tmp")).isEmpty)
    Fs.publishString(spark, s"$dir/_LATEST", "newer head")
    assert(Fs.readString(spark, s"$dir/_LATEST").contains("newer head"))
  }

  test("status parity with the stock RawLocalFileSystem: file, dir, symlink, sticky dir, missing") {
    val conf  = spark.sessionState.newHadoopConf()
    def init(fs: FileSystem): FileSystem = { fs.initialize(URI.create("file:///"), conf); fs }
    val stock = init(new RawLocalFileSystem)
    val nio   = init(new NioRawLocalFileSystem)
    val dir   = tmpDir()
    val file  = Files.write(Paths.get(dir, "f.txt"), "twelve bytes".getBytes)
    val sub   = Files.createDirectory(Paths.get(dir, "d"))
    val link  = Files.createSymbolicLink(Paths.get(dir, "l"), file)
    val sticky = new Path(s"$dir/s")
    nio.mkdirs(sticky)
    nio.setPermission(sticky, new FsPermission(Integer.parseInt("1750", 8).toShort))

    def fields(st: FileStatus) = (st.getPermission, st.getOwner, st.getGroup, st.getLen,
      st.isDirectory, st.getModificationTime, st.isSymlink, st.getPath)
    Seq(file.toString, sub.toString, link.toString, sticky.toString).map(new Path(_)).foreach { p =>
      assert(fields(nio.getFileStatus(p)) == fields(stock.getFileStatus(p)), s"getFileStatus($p)")
      assert(fields(nio.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)),
        s"getFileLinkStatus($p)")
    }
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    val st = stock.getFileStatus(sticky).getPermission
    assert(st.getStickyBit && st.toShort == Integer.parseInt("1750", 8), s"sticky dir reads $st")
    assert(fields(nio.listStatus(new Path(file.toString)).head) ==
      fields(stock.listStatus(new Path(file.toString)).head))

    val missing = new Path(s"$dir/missing")
    Seq[FileSystem => Any](_.getFileStatus(missing), _.getFileLinkStatus(missing),
      _.listStatus(missing)).foreach { call =>
      intercept[FileNotFoundException](call(stock))
      intercept[FileNotFoundException](call(nio))
    }
    intercept[FileNotFoundException](nio.setPermission(missing, FsPermission.getFileDefault))
  }
}
