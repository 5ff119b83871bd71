package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expressions.XPathStrings
import graft.functions.Scalars

/** S2/S3/S4 source plumbing (SURVEY.md §2.1): the reference's HTTP HTML
  * fetch path — search-page URL templating (server.py:185), proxy fetch
  * (pet_scraper.py:60-93, link_scraper.py:28-63), and the 12 positional
  * link-slot extraction (link_scraper.py:100-145) — re-expressed as
  * executor-side operators.
  *
  * The fetch function is PLUGGABLE: this environment has no egress, so tests
  * inject [[stubSearchPageFetcher]] (a deterministic HTML synthesizer), while
  * a production build injects an HTTP client closure (S2) or a
  * rendering-proxy client with JS-wait knobs (S3). Everything around the
  * fetcher — URL templating, partition-wise client reuse, XPath slot
  * extraction, URL normalization — is the real engine path either way.
  *
  * Scale posture: fetches run as one UDF column on executors (streamed rows
  * — never through the driver); extraction and normalization are codegen'd
  * built-ins. Combined with
  * [[graft.streaming.Ingest.pagedSource]] this is the reference's unbounded
  * ingest front end, distributed.
  */
object Fetch {

  /** url → document body. Implementations must be serializable (shipped to
    * executors); a real one wraps an HTTP client initialized lazily so the
    * closure serializes cheaply.
    */
  type Fetcher = String => String

  /** The reference's search-page URL template (server.py:185). */
  def searchUrl(page: org.apache.spark.sql.Column, petType: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit(s"${Scalars.PetfinderBase}/search/"), petType,
      lit("s-for-adoption/?page="), page.cast("string"))

  /** Stamp `url` onto a (page, pet_type) enumeration (S4's offset → URL map). */
  def withSearchUrls(pages: DataFrame): DataFrame =
    pages.withColumn("url", searchUrl(col("page"), col("pet_type")))

  /** Deterministic stub fetcher: synthesizes a well-formed search page with
    * `slots` anchor slots, some site-relative (exercising X6 normalization)
    * and one blank (exercising the F5 empty guard). Replaced by an HTTP
    * client in production; everything downstream is identical.
    */
  def stubSearchPageFetcher(slots: Int = 12): Fetcher = url => {
    val anchors = (1 to slots).map { i =>
      val href =
        if (i == slots) ""                                   // blank slot (F5)
        else if (i % 2 == 0) s"/pet/p${math.abs(url.hashCode % 1000)}-$i" // relative (X6)
        else s"${Scalars.PetfinderBase}/pet/p${math.abs(url.hashCode % 1000)}-$i"
      s"""<a href="$href">pet $i</a>"""
    }.mkString
    s"<html><body><div>$anchors</div></body></html>"
  }

  /** S2/S3: executor-side document fetch, one `html` column computed by
    * `fetcher` — the distributed form of the reference's one-shared-browser
    * loop (pet_scraper.py:604-613); a real fetcher initializes its client
    * lazily, once per executor. The column is nondeterministic, so the
    * optimizer keeps it in its own projection: the [[XPathStrings]] column
    * of [[extractLinks]] / [[extractPetFields]] reads the one fetched page
    * instead of inlining (and re-running) the fetch.
    */
  def fetchPages(df: DataFrame, urlCol: String, fetcher: Fetcher): DataFrame =
    df.withColumn("html", udf(fetcher).asNondeterministic()(col(urlCol)))

  /** P5: the 12 fixed positional slots (the engine analog of
    * link_scraper.py:100-113's hard-coded XPaths), read from one parse of
    * the page ([[XPathStrings]]), blanks dropped (F5), site-relative hrefs
    * normalized (X6), position preserved.
    */
  def extractLinks(df: DataFrame, htmlCol: String, slots: Int = 12): DataFrame =
    df
      .select(col("*"), posexplode(XPathStrings.xpathStrings(col(htmlCol),
        (1 to slots).map(i => s"/html/body/div/a[$i]/@href"))).as(Seq("slot", "href")))
      .filter(col("href").isNotNull && length(trim(col("href"))) > 0)
      .withColumn("link", Scalars.normalizeUrl(col("href")))
      .drop("href")

  /** The pet detail page's field layout in the stub (and test) documents:
    * h1 = "About {name}", six detail spans, six tri-state boolean spans, a
    * free-text paragraph, an image — the engine analog of the reference's 15
    * absolute XPaths (pet_scraper.py:96-112).
    */
  private val DetailCols = Seq("location", "age", "gender", "size", "color", "breed")
  private val BoolCols = Seq("spayed_neutered", "vaccinated", "special_needs",
    "kids_compatible", "dogs_compatible", "cats_compatible")

  /** Deterministic stub pet page: field values derived from the URL, cycling
    * through the reference's boolean quirk inputs ("Yes", "unknown", "✓", "",
    * "No", "Checked") and a starred/padded name so the scalar cleaning layer
    * (X1–X3) has real work. Replaced by the rendering-proxy fetcher in
    * production.
    */
  def stubPetPageFetcher(): Fetcher = url => {
    // floorMod: abs(Int.MinValue) is negative, and (abs + i) can overflow —
    // keep the id small and non-negative so index arithmetic below is safe
    val id = java.lang.Math.floorMod(url.hashCode, 1000000)
    val boolVals = Seq("Yes", "unknown", "✓", "", "No", "Checked")
    val details = DetailCols.zipWithIndex
      .map { case (c, i) => s"<span>$c-${(id + i) % 7}</span>" }.mkString
    val bools = BoolCols.indices
      .map(i => s"<span>${boolVals((id + i) % boolVals.length)}</span>").mkString
    s"""<html><body><div><h1> About Pet$id** </h1>$details$bools""" +
      s"""<p>story of $id</p><img src="/photos/$id.jpg"/></div></body></html>"""
  }

  /** P4 + §2.6: extract the 15 pet fields from a detail page and run the
    * scalar cleaning layer — `get_text` per XPath (pet_scraper.py:135-161),
    * clean_text (X1), name-from-about (X3), tri-state parse_boolean (X2;
    * the "" of a missing node becomes null), URL normalization
    * (X6) for the image. Output columns = the pets schema minus link/pet_type
    * (stamped by the caller — P2, pet_scraper.py:633-634).
    */
  def extractPetFields(df: DataFrame, htmlCol: String): DataFrame = {
    val spans = (1 to DetailCols.length + BoolCols.length).map(i => s"/html/body/div/span[$i]")
    val paths = ("/html/body/div/h1" +: spans) ++ Seq("/html/body/div/p", "/html/body/div/img/@src")
    // one column of all 15 strings, read by index below: the optimizer keeps
    // it in its own projection (CollapseProject does not copy a non-cheap
    // expression into its 15 readers), so each page is parsed once
    val fields = col("__fields")
    def field(i: Int) = Scalars.cleanText(fields.getItem(i))
    val detailCols = DetailCols.zipWithIndex.map { case (c, i) => field(i + 1).as(c) }
    val boolCols = BoolCols.zipWithIndex.map { case (c, i) =>
      Scalars.parseBoolean(field(DetailCols.length + i + 1)).as(c)
    }
    df.select(col("*"), XPathStrings.xpathStrings(col(htmlCol), paths).as("__fields"))
      .select(col("*") +:
        Scalars.extractNameFromAbout(field(0)).as("name") +:
        (detailCols ++ boolCols) :+
        field(paths.length - 2).as("about_me") :+
        Scalars.normalizeUrl(fields.getItem(paths.length - 1)).as("image"): _*)
      .drop("__fields")
  }
}
