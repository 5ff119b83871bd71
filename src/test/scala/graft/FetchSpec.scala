package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.xml.{XPathEvaluator, XPathString}
import org.apache.spark.sql.functions._

import graft.expressions.XPathStrings
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

  private val petPaths = Seq("/html/body/div/h1") ++
    (1 to 12).map(i => s"/html/body/div/span[$i]") ++
    Seq("/html/body/div/p", "/html/body/div/img/@src")

  /** `df` as a scanned (RDD) relation: a local relation's projections are
    * evaluated by the optimizer, so its plan holds no expression to count.
    */
  private def scanned(df: DataFrame): DataFrame =
    spark.createDataFrame(df.rdd, df.schema)

  /** (XPathStrings, xpath_string) calls in `df`'s optimized plan; an
    * `xpath_string` is replaced by an invoke of its evaluator there.
    */
  private def xpathCalls(df: DataFrame): (Int, Int) = {
    val exprs = df.queryExecution.optimizedPlan.collect { case p => p.expressions }
      .flatten.flatMap(_.collect { case e => e })
    (exprs.count(_.isInstanceOf[XPathStrings]), exprs.count {
      case _: XPathString => true
      case Literal(v, _)  => v.isInstanceOf[XPathEvaluator]
      case _              => false
    })
  }

  test("XPathStrings equals xpath_string per path, a missing node included") {
    val docs = Seq(
      Fetch.stubPetPageFetcher()("https://www.petfinder.com/pet/p7"),
      Fetch.stubSearchPageFetcher()("https://www.petfinder.com/search/dogs-for-adoption/?page=1"),
      "<html><body><div><h1>About Solo</h1><span>only one</span></div></body></html>",
      "<html xmlns=\"urn:x\"><body><div><h1>namespaced</h1></div></body></html>",
      "", null).toDF("html")
    val pages = scanned(docs)
    val paths = petPaths ++ (1 to 12).map(i => s"/html/body/div/a[$i]/@href")
    val perField = pages.select(array(paths.map(p => expr(s"xpath_string(html, '$p')")): _*).as("a"))
    val once     = pages.select(XPathStrings.xpathStrings(col("html"), paths).as("a"))
    assert(xpathCalls(perField) == (0, paths.length))
    assert(xpathCalls(once) == (1, 0))
    val want = perField.as[Seq[String]].collect().toSeq
    val got  = once.as[Seq[String]].collect().toSeq
    // null or empty input: null, where each xpath_string is null
    assert(want.takeRight(2).forall(_.forall(_ == null)) && got.takeRight(2) == Seq(null, null))
    assert(got.take(4) == want.take(4))
    assert(got(2).count(_ == "") == paths.length - 2, "a missing node reads \"\"")

    val bad = scanned(Seq("<html><body><div>").toDF("html"))
    intercept[Exception](bad.select(expr("xpath_string(html, '/html')")).collect())
    intercept[Exception](bad.select(XPathStrings.xpathStrings(col("html"), Seq("/html"))).collect())
  }

  test("XPathStrings does not expand an external entity") {
    val secret = java.nio.file.Files.createTempFile("graft-xxe", ".txt")
    java.nio.file.Files.write(secret, "SECRET-CONTENT".getBytes)
    val page =
      s"""<?xml version="1.0"?><!DOCTYPE html [<!ENTITY xxe SYSTEM "${secret.toUri}">]>""" +
        "<html><body><div><h1>About &xxe;Rex</h1></div></body></html>"
    val df  = scanned(Seq(page).toDF("html"))
    val got = df.select(XPathStrings.xpathStrings(col("html"), Seq("/html/body/div/h1")))
      .as[Seq[String]].head()
    assert(got == Seq("About Rex"))
    assert(got == Seq(df.select(expr("xpath_string(html, '/html/body/div/h1')")).as[String].head()))
  }

  test("each page is parsed once: one XPathStrings and no xpath_string per page in every plan") {
    val pages = Fetch.fetchPages(Fetch.withSearchUrls(scanned(Seq((1, "dog")).toDF("page", "pet_type"))),
      "url", Fetch.stubSearchPageFetcher())
    val links = Fetch.extractLinks(pages, "html")
    val pets  = Fetch.extractPetFields(
      Fetch.fetchPages(links.select("link", "pet_type"), "link", Fetch.stubPetPageFetcher()), "html")
    val alone = Fetch.extractPetFields(
      Fetch.fetchPages(scanned(Seq("https://www.petfinder.com/pet/p1").toDF("link")), "link",
        Fetch.stubPetPageFetcher()), "html")
    assert(xpathCalls(links) == (1, 0))
    assert(xpathCalls(alone) == (1, 0))
    assert(xpathCalls(pets) == (2, 0), "a search page and a pet page")
    assert(pets.count() == 11)
  }
}
