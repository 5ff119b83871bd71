package graft.expressions

import java.io.StringReader
import javax.xml.parsers.DocumentBuilderFactory
import javax.xml.xpath.{XPathConstants, XPathExpression, XPathFactory}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.xml.sax.InputSource

/** `xpath_string(child, p)` for every `p` in `paths`, from ONE parse of the
  * document: `array<string>`, element i = the string value of `paths(i)`
  * ("" for a missing node, as `xpath_string`).
  *
  * Why a custom expression: a fetched page is read through 12 (search page)
  * or 15 (pet page) XPaths, and each `xpath_string` parses the whole
  * document again — the reference parses each page once and reads every
  * XPath from that one DOM (pet_scraper.py:135-161). Here each row is
  * parsed once and the paths, compiled once per task, are evaluated on the
  * one DOM.
  *
  * Parity with `xpath_string` (pinned by FetchSpec): the parser has Spark's
  * `UDFXPathUtil` features (external general and parameter entities off,
  * the factory's default of not namespace-aware, so `/html/body` matches a
  * page that declares a default namespace); null or empty input gives null;
  * a document that does not parse fails the task, as `xpath_string` does.
  */
case class XPathStrings(child: Expression, paths: Seq[String]) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires a STRING argument, got $t")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "xpath_strings"

  @transient private lazy val evaluator = new XPathStrings.Evaluator(paths)

  override protected def nullSafeEval(input: Any): Any = evaluator.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val e = ctx.addReferenceObj("xpaths", evaluator)
    nullSafeCodeGen(ctx, ev, s =>
      s"""${ev.value} = $e.eval($s);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): XPathStrings =
    copy(child = newChild)
}

object XPathStrings {
  import org.apache.spark.sql.graftbridge.Bridge

  /** One task's parser and compiled paths (neither is thread-safe; each
    * task deserializes its own copy, as Spark's own XPath expressions do).
    */
  final class Evaluator(paths: Seq[String]) extends Serializable {
    @transient private lazy val builder = {
      val f = DocumentBuilderFactory.newInstance()
      f.setFeature("http://xml.org/sax/features/external-general-entities", false)
      f.setFeature("http://xml.org/sax/features/external-parameter-entities", false)
      f.newDocumentBuilder()
    }
    @transient private lazy val compiled: Array[XPathExpression] = {
      val x = XPathFactory.newInstance().newXPath()
      paths.map(x.compile).toArray
    }

    def eval(xml: UTF8String): GenericArrayData =
      if (xml.numBytes == 0) null
      else {
        val doc =
          try builder.parse(new InputSource(new StringReader(xml.toString)))
          catch { case e: Exception =>
            throw new RuntimeException(s"Error loading expressions ${paths.mkString("'", "', '", "'")}", e)
          }
        new GenericArrayData(compiled.map[Any](p =>
          UTF8String.fromString(p.evaluate(doc, XPathConstants.STRING).asInstanceOf[String])))
      }
  }

  /** Column-DSL entry point. */
  def xpathStrings(html: Column, paths: Seq[String]): Column =
    Bridge.column(XPathStrings(Bridge.expression(html), paths))
}
