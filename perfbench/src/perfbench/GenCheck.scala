package perfbench

/** Prints, as one JSON line, content hashes and key-mix counts of the
  * generator's output for a seed, without starting Spark:
  *
  *   perfbench.GenCheck <seed>
  *
  * perfbench/tests/test_generator.py runs it to pin determinism (same seed,
  * same hashes) and the batch mix shares.
  */
object GenCheck {
  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val snap = Gen.snapshot(seed, 2000)
    val model = new Gen.Model
    snap.foreach(v => model.rows(v(0).toString) = v)
    var next = snap.size.toLong
    def id(): Long = { next += 1; next - 1 }
    def mix(b: Seq[Array[Any]]): Map[String, Int] = {
      val links = b.map(_(0).toString)
      Map(
        "rows" -> b.size,
        "distinct" -> links.distinct.size,
        "existing" -> links.distinct.count(model.rows.contains),
        "invalid" -> b.count(v => !Gen.ingestValid(v)))
    }
    // an insert batch, applied, then an update batch: the lifecycle's order
    val insert = Gen.batch(seed, "i0", 2000, Gen.InsertMix, update = false, () => id(), next, 1)
    val insertMix = mix(insert)
    model.ingest(insert)
    val update = Gen.batch(seed, "u0", 2000, Gen.UpdateMix, update = true, () => id(), next, 1)
    val fetcher = Gen.PageFetcher(seed, 4096)
    val urls  = (1 to 20).map(p => Main.searchUrl(p, if (p % 2 == 0) "dog" else "cat"))
    val pages = urls.map(fetcher) ++ urls.flatMap(fetcher.searchLinks).filter(_.nonEmpty)
      .map(h => fetcher(Gen.normalize(h)))
    val out = Map(
      "snapshot" -> Main.hashOf(snap.iterator),
      "insert" -> Main.hashOf(insert.iterator),
      "update" -> Main.hashOf(update.iterator),
      "pages" -> Main.hashOf(pages.iterator.map(p => Array[Any](p))),
      "page_bytes_min" -> pages.map(_.length).min,
      "insert_mix" -> insertMix,
      "update_mix" -> mix(update),
      "snapshot_valid" -> snap.count(Gen.ingestValid))
    println(Json(out))
  }
}
