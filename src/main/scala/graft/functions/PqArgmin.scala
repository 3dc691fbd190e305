package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Per-subspace PQ codeword argmin over (`array<double>` vec,
  * `array<array<double>>` codebook), result
  * `array<struct<d2:double, cid:int>>` — one struct per subspace, the
  * winning codeword and its squared L2 distance.
  *
  * Geometry is derived from the operands: `dims` = codebook row length,
  * `sub` = vec length / dims, `k` = codebook rows / sub; codebook row `j`
  * is codeword `cid = j % k` of subspace `s = j / k` (the caller lays the
  * matrix out in (s, cid) order). THE per-row inner step of PQ encode/ADC
  * ([[graft.operators.SimilarityOps]] pqMins): the plan-time form it
  * replaces — `transform(sequence(..), s -> array_min(transform(filter(
  * cbs, ..), c -> struct(aggregate(zip_with(..)), ..))))` — runs the whole
  * sub×k×dims scan through interpreted higher-order lambdas per corpus
  * row, the [[ArgminCell]] pathology in the double domain.
  *
  * Value identity with that form (the 6-dp oracle pins the surface):
  *  - d2 folds in index order with double adds — bit-identical to
  *    `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0D, (acc,x) -> acc+x)`;
  *  - ties (and NaN placement) break exactly like `array_min` over
  *    struct(d2, cid): `Double.compare` strict-less while scanning cid
  *    ascending keeps the smallest cid at equal d2 and never lets NaN beat
  *    a number (NaN sorts greatest in Spark's double ordering too).
  *
  * Null/shape semantics (the graft_jl convention): NULL when the codebook
  * is empty or ragged (row length ≠ dims, row count not a multiple of the
  * derived sub), when the vec is empty or its length is not a multiple of
  * the row length, or when any element is null — malformed inputs poison
  * visibly. */
case class PqArgmin(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_pqmin expects (array<double> vec, array<array<double>> " +
          s"codebook), got (${l.sql}, ${r.sql})")
    }
  override def dataType: DataType = PqArgmin.outType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_pqmin"

  override def nullSafeEval(a: Any, b: Any): Any =
    PqArgmin.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val res = ctx.freshName("res")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $res =
         |  graft.functions.PqArgmin.compute($a, $b);
         |if ($res == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $res;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqArgmin =
    copy(left = newLeft, right = newRight)
}

object PqArgmin {
  val info = new ExpressionInfo(classOf[PqArgmin].getName, "graft_pqmin")

  val outType: DataType = ArrayType(StructType(Seq(
    StructField("d2", DoubleType, nullable = false),
    StructField("cid", IntegerType, nullable = false))), containsNull = false)

  /** Compiled inner loop, shared by eval and generated code (static
    * forwarder on the companion class keeps the call codegen-friendly).
    * Returns null for malformed shapes/null elements. */
  def compute(vec: ArrayData, cb: ArrayData): ArrayData = {
    val vlen = vec.numElements()
    val rows = cb.numElements()
    if (rows == 0) return null
    var i = 0
    while (i < vlen) {
      if (vec.isNullAt(i)) return null
      i += 1
    }
    // derive (sub, k, dims) from the operands; reject ragged layouts
    if (cb.isNullAt(0)) return null
    val dims = cb.getArray(0).numElements()
    if (dims == 0 || vlen == 0 || vlen % dims != 0) return null
    val sub = vlen / dims
    if (rows % sub != 0) return null
    val k = rows / sub
    val out = new Array[AnyRef](sub)
    var s = 0
    while (s < sub) {
      var best = 0.0
      var bestCid = -1
      var j = 0
      while (j < k) {
        val r = s * k + j
        if (cb.isNullAt(r)) return null
        val row = cb.getArray(r)
        if (row.numElements() != dims) return null
        var d2 = 0.0
        var d = 0
        while (d < dims) {
          if (row.isNullAt(d)) return null
          val diff = vec.getDouble(s * dims + d) - row.getDouble(d)
          d2 += diff * diff
          d += 1
        }
        if (bestCid < 0 || java.lang.Double.compare(d2, best) < 0) {
          best = d2
          bestCid = j
        }
        j += 1
      }
      out(s) = new GenericInternalRow(
        Array[Any](best, bestCid)): InternalRow
      s += 1
    }
    new GenericArrayData(out)
  }
}
