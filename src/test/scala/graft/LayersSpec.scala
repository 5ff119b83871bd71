package graft

import java.nio.file.Files

import graft.streaming.{Fs, Layers}

/** The layer store format's own listing rule. The protocol itself (append,
  * replay guard, rebuild, generational fold, clear) is pinned through its
  * stores: AnnIndexSpec, IncrementalDedupSpec, PackingSpec and
  * CrossOpCrashSpec.
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
  }
}
