package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.{Scalars, Udfs}
import graft.operators.Export

/** S8 CSV export sink round-trip and the §2.10 SQL-function sugar. The UDF
  * tests evaluate each registered SQL name against its Column-DSL twin over
  * a quirk-heavy input set, so the two surfaces cannot drift.
  */
class ExportUdfSpec extends SparkTestBase {

  import spark.implicits._

  test("S8: CSV export writes header, declared order, encoded bools, escaped newlines") {
    val df = Seq(
      ("L1", Some(true), Some("a\r\nb")),
      ("L2", None, None)
    ).toDF("link", "vaccinated", "about_me")
    val dir = Files.createTempDirectory("graft-csv").toString
    Export.writeCsv(df, dir, Seq("link", "vaccinated", "missing", "about_me"),
      boolCols = Set("vaccinated"), singleFile = true)

    val lines = Files.list(new java.io.File(dir).toPath).iterator()
    val part  = scala.jdk.CollectionConverters.IteratorHasAsScala(lines).asScala
      .find(_.toString.endsWith(".csv")).get
    val content = new String(Files.readAllBytes(part), "UTF-8").trim.split("\n").toSeq
    assert(content.head == "link,vaccinated,missing,about_me")
    // Spark CSV quotes fields containing the quote/sep only; our escaped
    // about_me has no raw newlines left, so rows stay single-line.
    assert(content.contains("L1,True,,a\\n\\nb"))
    assert(content.contains("L2,,,"))
  }

  test("S8: a non-string, non-bool column passes through the CSV encoding unchanged") {
    val df = Seq(("L1", Some(3), Some("a\nb")), ("L2", None, Some("c"))).toDF("link", "age", "about_me")
    val out = Export.encodeForCsv(df, Seq("link", "age", "missing", "about_me"), Set.empty)
    assert(out.schema.map(_.dataType.typeName).distinct == Seq("string"))
    assert(out.orderBy("link").collect().map(_.toSeq).toSeq ==
      Seq(Seq("L1", "3", "", "a\\nb"), Seq("L2", "", "", "c")))
  }

  test("§2.10: registered SQL functions match the Column DSL on quirk inputs") {
    Udfs.register(spark)
    val inputs = Seq("unknown", "maybe", "only", "Yes", "✗", "", "  ", "About Rex",
      "abouts", "a\r\nb", "/dog/1", "https://x", "Rex**", "***", "zzz")
    val df = inputs.toDF("s")

    def pair(sqlName: String, colFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
      val rows = df.select(expr(s"$sqlName(s)").as("viaSql"), colFn(col("s")).as("viaCol"))
        .collect()
      rows.foreach(r => assert(r.get(0) == r.get(1), s"$sqlName drifted on input row $r"))
    }
    pair("clean_text", Scalars.cleanText)
    pair("parse_boolean", Scalars.parseBoolean)
    pair("extract_name_from_about", Scalars.extractNameFromAbout)
    pair("escape_newlines", Scalars.escapeNewlines)
    pair("normalize_url", Scalars.normalizeUrl)
    pair("hex_hash60", Scalars.hexHash60)

    val b = Seq(Some(true), Some(false), None).toDF("x")
      .selectExpr("encode_bool(x) as viaSql")
      .collect().map(_.getString(0))
    assert(b.toSeq == Seq("True", "False", ""))
  }
}
