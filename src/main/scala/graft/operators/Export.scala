package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.Scalars

/** S8 CSV export sink (SURVEY.md §2.1): the reference's `GET /pets.csv`
  * download path — fixed 17-column order with ""-fill (pet_scraper.py:
  * 341-361), booleans encoded "True"/"False"/"" (pet_scraper.py:460-465),
  * newlines escaped to the literal two-char \n (pet_scraper.py:415-417),
  * header row included (server.py:493-518, docs/index.html:201-271).
  *
  * Scale posture: the export stays partitioned — one CSV part per task, the
  * only shape that works at 100 TB (the reference streams one file because it
  * HAS one file). Callers needing a single download artifact concatenate
  * parts behind the serving layer, or pass `singleFile = true` for small
  * tables (test/parity use only).
  */
object Export {

  /** Encode a table into its export representation: declared column order,
    * booleans stringified, newlines escaped, nulls → "", absent columns "".
    * `boolCols` names the tri-state boolean columns (the pets schema's six
    * compat/health flags). One `select`, so the plan is analyzed once
    * whatever the column count.
    */
  def encodeForCsv(df: DataFrame, columns: Seq[String], boolCols: Set[String]): DataFrame = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(columns.map { c =>
      types.get(c).fold(lit("").as(c)) { t =>
        val encoded =
          if (boolCols.contains(c)) Scalars.encodeBool(col(c).cast("boolean"))
          else if (t == StringType) Scalars.escapeNewlines(col(c))
          else col(c)
        coalesce(encoded.cast("string"), lit("")).as(c)
      }
    }: _*)
  }

  /** Write the encoded table as header-ful CSV. Partitioned by default;
    * `singleFile` coalesces to one part (small exports only — it serializes
    * the write through one task, exactly the bottleneck the engine otherwise
    * avoids).
    */
  def writeCsv(
      df: DataFrame,
      path: String,
      columns: Seq[String],
      boolCols: Set[String] = Set.empty,
      singleFile: Boolean = false): Unit = {
    val encoded = encodeForCsv(df, columns, boolCols)
    val out     = if (singleFile) encoded.coalesce(1) else encoded
    out.write.mode("overwrite")
      .option("header", "true")
      // bare empty fields, not quoted ones — the reference's csv.DictWriter
      // shape (pet_scraper.py:470-480)
      .option("emptyValue", "")
      .csv(path)
  }
}
