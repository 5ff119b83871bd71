package graft

import org.apache.spark.sql.functions._

import graft.sources.Fetch

/** The S2/S3/S4 source path with the stub fetcher: URL templating, executor-
  * side fetch (once per page), positional XPath slot extraction,
  * blank-guard, and URL normalization — end-to-end over a (page, pet_type)
  * enumeration.
  */
class FetchSpec extends SparkTestBase {

  import spark.implicits._

  test("paged enumeration → fetch → 12-slot extract → normalized links") {
    val pages = Seq((1, "dog"), (2, "cat")).toDF("page", "pet_type")
    val urls  = Fetch.withSearchUrls(pages)
    assert(urls.select("url").as[String].collect().toSet ==
      Set("https://www.petfinder.com/search/dogs-for-adoption/?page=1",
          "https://www.petfinder.com/search/cats-for-adoption/?page=2"))

    val fetched = Fetch.fetchPages(urls, "url", Fetch.stubSearchPageFetcher())
    val links   = Fetch.extractLinks(fetched, "html")

    val perPage = links.groupBy("page").count().as[(Int, Long)].collect().toMap
    // 12 slots, one deliberately blank → 11 survive the F5 guard
    assert(perPage == Map(1 -> 11L, 2 -> 11L))

    // every link absolute after X6 normalization, slot order preserved
    val all = links.select("link").as[String].collect()
    assert(all.forall(_.startsWith("https://www.petfinder.com/pet/")))
    val slots = links.filter(col("page") === 1).orderBy("slot")
      .select("slot").as[Int].collect().toSeq
    assert(slots == slots.sorted && slots.length == 11)
  }

  test("pet detail extraction: 15 fields through the scalar cleaning layer") {
    val url = "https://www.petfinder.com/pet/p1-1"
    val df = Fetch.fetchPages(Seq(url).toDF("link"), "link", Fetch.stubPetPageFetcher())
    val out = Fetch.extractPetFields(df, "html").collect()(0)
    val id  = java.lang.Math.floorMod(url.hashCode, 1000000)

    // X1+X3: " About Pet{id}** " → cleaned, de-prefixed
    assert(out.getAs[String]("name") == s"Pet$id")
    assert(out.getAs[String]("location") == s"location-${id % 7}")
    // X2 quirks over the cycling boolean inputs: Yes→T, unknown→F ("n"),
    // ✓→T, ""→null, No→F, Checked→T — rotated by id
    val boolVals = Seq("Yes", "unknown", "✓", "", "No", "Checked")
    val expected = Seq(true, false, true, null, false, true)
    Seq("spayed_neutered", "vaccinated", "special_needs",
      "kids_compatible", "dogs_compatible", "cats_compatible").zipWithIndex.foreach {
      case (c, i) =>
        val want = expected((id + i) % boolVals.length)
        val got  = if (out.isNullAt(out.fieldIndex(c))) null else out.getAs[Boolean](c)
        assert(got == want, s"$c: input '${boolVals((id + i) % boolVals.length)}'")
    }
    assert(out.getAs[String]("about_me") == s"story of $id")
    // X6: site-relative image src normalized to absolute
    assert(out.getAs[String]("image") == s"https://www.petfinder.com/photos/$id.jpg")
  }

  test("each page is fetched once, however many slots or fields read it") {
    val fetches = spark.sparkContext.longAccumulator("fetches")
    def counting(f: Fetch.Fetcher): Fetch.Fetcher = url => { fetches.add(1); f(url) }

    val pages = Seq((1, "dog"), (2, "cat"), (3, "dog")).toDF("page", "pet_type")
    val links = Fetch.extractLinks(Fetch.fetchPages(Fetch.withSearchUrls(pages), "url",
      counting(Fetch.stubSearchPageFetcher())), "html").collect()
    assert(links.length == 3 * 11)
    assert(fetches.value == 3, s"3 search pages fetched ${fetches.value} times for 12 slots")

    fetches.reset()
    val urls = (1 to 4).map(i => s"https://www.petfinder.com/pet/p$i").toDF("link")
    val pets = Fetch.extractPetFields(Fetch.fetchPages(urls, "link",
      counting(Fetch.stubPetPageFetcher())), "html").collect()
    assert(pets.length == 4)
    assert(fetches.value == 4, s"4 pet pages fetched ${fetches.value} times for 15 fields")
  }

  test("full reference pipeline: pages → links → pet fields → validate → merge → export") {
    import graft.model.PetSchema
    import graft.streaming.KeyedTable

    val pages   = Seq((1, "dog"), (1, "cat")).toDF("page", "pet_type")
    val links   = Fetch.extractLinks(
      Fetch.fetchPages(Fetch.withSearchUrls(pages), "url", Fetch.stubSearchPageFetcher()),
      "html").select("link", "pet_type")
    val pets = Fetch.extractPetFields(
      Fetch.fetchPages(links, "link", Fetch.stubPetPageFetcher()), "html")
      .select(PetSchema.columns.map(col): _*)

    val dir   = java.nio.file.Files.createTempDirectory("graft-full").toString
    val table = new KeyedTable(spark, s"$dir/table", "link")
    graft.Pipeline.ingestBatch(table, pets, batchId = 0L)

    val stored = table.read().get
    assert(stored.count() > 0)
    assert(stored.count() == stored.select("link").distinct().count())
    assert(stored.columns.toSeq == PetSchema.columns)

    graft.Pipeline.exportCsv(stored, s"$dir/csv", singleFile = true)
    val header = scala.io.Source.fromFile(
      new java.io.File(s"$dir/csv").listFiles().filter(_.getName.endsWith(".csv")).head)
      .getLines().next()
    assert(header == PetSchema.columns.mkString(","))
  }
}
