package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.model.PetSchema

/** Seeded inputs for every workload. Every value is a pure function of
  * (seed, key, salt) through a splitmix64 mix, so the same seed yields the
  * same rows, pages and corpus on any host, and a row can be regenerated
  * from its key alone (the fetcher relies on that on executors).
  */
object Gen {

  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def h(seed: Long, key: String, salt: Int): Long =
    mix(seed * 31L + key.hashCode.toLong * 1000003L + salt)

  /** Uniform in [0, n). */
  def pick(seed: Long, key: String, salt: Int, n: Int): Int =
    java.lang.Math.floorMod(h(seed, key, salt), n.toLong).toInt

  def chance(seed: Long, key: String, salt: Int, p: Double): Boolean =
    pick(seed, key, salt, 1000000) < (p * 1000000).toLong

  private val Names    = Seq("Buddy", "Luna", "Max", "Bella", "Charlie", "Daisy", "Milo",
    "Lucy", "Rocky", "Coco", "Oliver", "Nala", "Toby", "Zoe", "Jasper", "Pepper")
  private val Cities   = Seq("Austin, TX", "Denver, CO", "Portland, OR", "Raleigh, NC",
    "Madison, WI", "Tucson, AZ", "Albany, NY", "Boise, ID")
  private val Ages     = Seq("Baby", "Young", "Adult", "Senior")
  private val Genders  = Seq("Male", "Female")
  private val Sizes    = Seq("Small", "Medium", "Large", "Extra Large")
  private val Colors   = Seq("Black", "White", "Brown", "Tabby", "Golden", "Gray", "Cream")
  private val Breeds   = Seq("Labrador Retriever", "Domestic Short Hair", "Beagle", "Siamese",
    "Pit Bull Terrier", "Maine Coon", "Poodle", "Mixed Breed")
  private val Words    = Seq("friendly", "playful", "calm", "loves", "walks", "treats", "shy",
    "gentle", "curious", "house", "trained", "sunny", "naps", "energetic", "cuddly")

  /** The 15 checked columns, in PetSchema order (everything but link/pet_type). */
  val Checked: Seq[String] = PetSchema.checkedColumns
  private val colIndex: Map[String, Int] = PetSchema.columns.zipWithIndex.toMap

  /** Shape of one generated pets row. `missing` fields are blank ("" for
    * strings, null for booleans); `placeholder` gives the row a name the
    * ingest gate rejects.
    */
  final case class Kind(missing: Int, placeholder: Boolean)

  /** Field values of one pets row as PetSchema-ordered Array (link first). */
  def petRow(seed: Long, link: String, petType: String, version: Int, kind: Kind): Array[Any] = {
    val k = s"$link#$version"
    val v = new Array[Any](PetSchema.columns.size)
    v(0) = link
    v(1) = petType
    v(colIndex("name")) =
      if (kind.placeholder) Seq("Dog", "cat ", " DOG", "Cat")(pick(seed, k, 1, 4))
      else Names(pick(seed, k, 1, Names.size))
    v(colIndex("location")) = Cities(pick(seed, k, 2, Cities.size))
    v(colIndex("age")) = Ages(pick(seed, k, 3, Ages.size))
    v(colIndex("gender")) = Genders(pick(seed, k, 4, Genders.size))
    v(colIndex("size")) = Sizes(pick(seed, k, 5, Sizes.size))
    v(colIndex("color")) = Colors(pick(seed, k, 6, Colors.size))
    v(colIndex("breed")) = Breeds(pick(seed, k, 7, Breeds.size))
    // flags are only ever blank through `kind.missing`, so the kind alone
    // decides which gates a row passes
    PetSchema.boolColumns.toSeq.sorted.zipWithIndex.foreach { case (c, i) =>
      v(colIndex(c)) = pick(seed, k, 10 + i, 3) != 0
    }
    val words = (0 until 8 + pick(seed, k, 30, 24)).map(i => Words(pick(seed, k, 40 + i, Words.size)))
    v(colIndex("about_me")) = words.grouped(6).map(_.mkString(" ")).mkString(".\r\n")
    v(colIndex("image")) = s"https://photos.example.org/${math.abs(h(seed, k, 90) % 100000000)}.jpg"
    // blank `missing` distinct checked fields, never the name
    val order = Checked.filterNot(_ == "name").sortBy(c => h(seed, k, 100 + colIndex(c)))
    order.take(kind.missing).foreach { c =>
      v(colIndex(c)) = if (PetSchema.boolColumns(c)) null else ""
    }
    v
  }

  def missingCount(v: Array[Any]): Int = Checked.count { c =>
    val x = v(colIndex(c))
    x == null || x.toString.trim.isEmpty
  }

  /** `Pipeline.ingestValid`: no placeholder name and < 50 % of the 15 checked fields missing. */
  def ingestValid(v: Array[Any]): Boolean = {
    val name = Option(v(colIndex("name"))).map(_.toString.trim.toLowerCase).orNull
    !(name == "dog" || name == "cat") && missingCount(v) < 7.5
  }

  /** The verification compaction keep rule: fewer than 3 checked fields missing. */
  def compactKeep(v: Array[Any]): Boolean = missingCount(v) < 3

  def toRow(v: Array[Any]): Row = Row.fromSeq(v.toSeq)

  /** Bytes of a row as offered to the engine (UTF-8 text, 1 byte per flag). */
  def rowBytes(v: Array[Any]): Long = v.iterator.map {
    case null       => 0L
    case s: String  => s.getBytes("UTF-8").length.toLong
    case _          => 1L
  }.sum

  /** Stable content hash of a sequence of rows (order-sensitive). */
  def contentHash(rows: Iterator[Array[Any]], into: java.security.MessageDigest): Unit =
    rows.foreach { v =>
      v.foreach { x => into.update(String.valueOf(x).getBytes("UTF-8")); into.update(0.toByte) }
      into.update('\n'.toByte)
    }

  // ---------------------------------------------------------------- model

  /** In-memory model of the pets table under the engine's documented
    * semantics: `Pipeline.ingestBatch` inserts only new, valid keys;
    * `KeyedTable.merge` coalesces each non-null update column over the
    * existing row; the compaction keeps rows with < 3 missing fields.
    */
  final class Model {
    val rows = mutable.HashMap.empty[String, Array[Any]]
    def ingest(batch: Seq[Array[Any]]): Int = {
      var n = 0
      batch.foreach { v =>
        val link = v(0).toString
        if (!rows.contains(link) && ingestValid(v)) { rows(link) = v; n += 1 }
      }
      n
    }
    def merge(batch: Seq[Array[Any]]): Unit = batch.foreach { u =>
      val link = u(0).toString
      rows.get(link) match {
        case Some(e) => rows(link) = u.indices.map(i => if (u(i) != null) u(i) else e(i)).toArray
        case None    => rows(link) = u
      }
    }
    def compact(): (Long, Long) = {
      val drop = rows.collect { case (k, v) if !compactKeep(v) => k }.toSeq
      drop.foreach(rows.remove)
      ((rows.size).toLong, drop.size.toLong)
    }
  }

  // -------------------------------------------------------- upsert batches

  def link(seed: Long, id: Long): String = s"https://www.petfinder.com/pet/s$seed-$id"

  /** A valid row's missing-field count: mostly complete, one in five
    * degraded enough (3..6 missing) that compaction drops it later (the
    * verification rule, verify.py:9-37). The one-in-five share is an
    * unverified choice.
    */
  def validKind(seed: Long, key: String): Kind =
    if (chance(seed, key, 200, 0.2)) Kind(3 + pick(seed, key, 201, 4), placeholder = false)
    else Kind(pick(seed, key, 202, 3), placeholder = false)

  def invalidKind(seed: Long, key: String): Kind =
    if (chance(seed, key, 203, 0.5)) Kind(pick(seed, key, 204, 3), placeholder = true)
    else Kind(8 + pick(seed, key, 205, 6), placeholder = false)

  def petType(seed: Long, key: String): String = if (pick(seed, key, 300, 2) == 0) "dog" else "cat"

  /** The initial snapshot: `n` rows with ids [0, n), all passing ingest. */
  def snapshot(seed: Long, n: Int): IndexedSeq[Array[Any]] =
    (0 until n).map { i =>
      val l = link(seed, i)
      petRow(seed, l, petType(seed, l), 0, validKind(seed, l))
    }

  /** Mix shares of one micro-batch. The row classes are the reference's:
    * new keys, keys already stored (upsert by `link`, pet_scraper.py:423,
    * 432), invalid rows (placeholder name, pet_scraper.py:375-377; ≥ 50 %
    * of 15 fields missing, pet_scraper.py:364-407) and intra-batch
    * duplicate keys (server.py:207). The shares are not: the reference
    * records no traffic, so both mixes below are unverified choices
    * (perfbench/README.md, "Inputs").
    */
  final case class Mix(fresh: Double, existing: Double, invalid: Double, dup: Double)
  val InsertMix = Mix(fresh = 0.70, existing = 0.10, invalid = 0.10, dup = 0.10)
  val UpdateMix = Mix(fresh = 0.10, existing = 0.75, invalid = 0.05, dup = 0.10)

  /** One micro-batch of `size` rows. New keys come from `nextId`
    * (advanced here); existing keys are drawn from [0, known). Update rows
    * blank a few fields as nulls (kept by the merge's coalesce) or as ""
    * (which overwrite). Duplicates repeat an earlier row of the batch
    * verbatim, so whichever copy the engine keeps is the same row.
    */
  def batch(seed: Long, tag: String, size: Int, mix: Mix, update: Boolean,
            nextId: () => Long, known: Long, version: Int): IndexedSeq[Array[Any]] = {
    val out  = mutable.ArrayBuffer.empty[Array[Any]]
    val used = mutable.HashSet.empty[String]
    // a stored key not yet in this batch: one version per key per batch,
    // since two different rows for one key would leave the engine's pick
    // among them unspecified
    def existing(k: String): Option[String] = (0 until 8).iterator
      .map(t => link(seed, java.lang.Math.floorMod(h(seed, k, 402 + t), known)))
      .find(l => !used(l))
    (0 until size).foreach { i =>
      val k = s"$tag/$i"
      val r = pick(seed, k, 400, 1000000) / 1e6
      if (r < mix.dup && out.nonEmpty) out += out(pick(seed, k, 401, out.size))
      else if (r < mix.dup + mix.invalid) {
        val l = link(seed, nextId())
        out += petRow(seed, l, petType(seed, l), version, invalidKind(seed, l))
      } else if (r < mix.dup + mix.invalid + mix.existing && known > 0 &&
                 existing(k).isDefined) {
        val l = existing(k).get
        used += l
        val v = petRow(seed, l, petType(seed, l), version, validKind(seed, k))
        if (update) {
          // partial update: a few columns absent (null → keep old value)
          Checked.filter(c => chance(seed, k + c, 403, 0.2)).foreach(c => v(colIndex(c)) = null)
        }
        out += v
      } else {
        val l = link(seed, nextId())
        out += petRow(seed, l, petType(seed, l), version, validKind(seed, l))
      }
    }
    out.toIndexedSeq
  }

  // ---------------------------------------------------------------- pages

  /** Serializable seeded fetcher for the scrape front end. Search pages
    * carry 12 anchor slots under /html/body/div, the reference's fixed
    * XPath slot list (link_scraper.py:100-113); some are blank, some
    * site-relative, some point at a pet the previous page also lists. Pet
    * pages carry the h1 / 12 spans / p / img layout `Fetch.extractPetFields`
    * parses. Each page is padded to `padBytes` with a sibling section that
    * none of the extraction XPaths reach. The blank-slot (8 %),
    * previous-page (5 %) and invalid-pet (10 %) shares and the padded size
    * are unverified choices: the reference records neither its pages'
    * sizes nor how often slots are empty.
    */
  final case class PageFetcher(seed: Long, padBytes: Int) extends (String => String) {
    def apply(url: String): String =
      if (url.contains("/search/")) pad(searchPage(url)) else pad(petPage(url))

    private def pad(doc: String): String = {
      val need = padBytes - doc.length
      if (need <= 0) doc
      else {
        val filler = new StringBuilder("<section>")
        var i = 0
        while (filler.length < need - 10) {
          filler.append("<span>").append(Words(i % Words.size)).append("</span>"); i += 1
        }
        filler.append("</section>")
        doc.replace("</body>", filler.toString + "</body>")
      }
    }

    def searchPage(url: String): String = {
      val anchors = searchLinks(url).map { href => s"""<a href="$href">pet</a>""" }.mkString
      s"<html><body><div>$anchors</div></body></html>"
    }

    /** The 12 hrefs of a search page, in slot order ("" = blank slot). */
    def searchLinks(url: String): Seq[String] = {
      val page = url.substring(url.lastIndexOf('=') + 1).toInt
      val tpe  = if (url.contains("/search/dogs")) "dog" else "cat"
      (1 to 12).map { slot =>
        val k = s"$url/$slot"
        if (chance(seed, k, 500, 0.08)) ""
        else {
          // a pet listed on the previous page too: a duplicate key
          val p  = if (page > 1 && chance(seed, k, 501, 0.05)) page - 1 else page
          val id = s"$tpe-$p-$slot-s$seed"
          if (slot % 2 == 0) s"/pet/$id" else s"https://www.petfinder.com/pet/$id"
        }
      }
    }

    /** The pets row a pet page describes, as the extraction should read it. */
    def petFields(link: String): Array[Any] = {
      val tpe  = if (link.contains("/pet/dog-")) "dog" else "cat"
      val kind = if (chance(seed, link, 600, 0.1)) invalidKind(seed, link) else validKind(seed, link)
      val v    = petRow(seed, link, tpe, 0, kind)
      v(colIndex("about_me")) = v(colIndex("about_me")).toString.replace("\r\n", " ")
      v
    }

    def petPage(link: String): String = {
      val v = petFields(link)
      def s(c: String): String = Option(v(colIndex(c))).map(_.toString).getOrElse("")
      def b(c: String): String = v(colIndex(c)) match {
        case null  => ""
        case true  => Seq("Yes", "✓", "Checked")(pick(seed, link + c, 610, 3))
        case _     => Seq("No", "unknown")(pick(seed, link + c, 611, 2))
      }
      val name = s("name")
      val h1 = if (name.isEmpty) "" else s"About $name**"
      val details = Seq("location", "age", "gender", "size", "color", "breed")
        .map(c => s"<span>${s(c)}</span>").mkString
      val bools = Seq("spayed_neutered", "vaccinated", "special_needs",
        "kids_compatible", "dogs_compatible", "cats_compatible")
        .map(c => s"<span>${b(c)}</span>").mkString
      val img = s("image")
      s"<html><body><div><h1> $h1 </h1>$details$bools<p>${s("about_me")}</p>" +
        s"""<img src="$img"/></div></body></html>"""
    }
  }

  /** Normalized link of a search-page href (`Scalars.normalizeUrl`). */
  def normalize(href: String): String =
    if (href.startsWith("/")) "https://www.petfinder.com" + href else href
}
