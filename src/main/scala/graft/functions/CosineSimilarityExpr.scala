package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.GraftBridge

/** Fused cosine similarity over two ARRAY<FLOAT> / ARRAY<DOUBLE> columns —
  * the custom-Expression path SURVEY.md §4 reserves for the case where the
  * built-in composition is the measured bottleneck: `zip_with` +
  * `aggregate` allocates an intermediate array per row-pair, which
  * dominates the O(n²) similarity joins. This expression runs one fused
  * loop (dot + both norms) directly over the unsafe array data, inside
  * whole-stage codegen — zero allocations per pair.
  *
  * Numeric contract: identical to VectorFunctions.cosine — every product
  * and accumulation in double, sequential element order, so results stay
  * bit-identical to the DuckDB oracle (list_dot_product over DOUBLE[]).
  * Inputs of ARRAY<FLOAT> are widened per element (float→double is exact).
  * NULL contract, also identical to the composed form: mismatched
  * lengths, any null element, or a zero-norm side yield NULL (zip_with
  * pads the shorter array with nulls poisoning the aggregate; Divide
  * returns null on a zero divisor) — never a silent prefix-truncated
  * score, an NPE, or a NaN.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects array<float>/array<double>, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  @inline private def elem(arr: ArrayData, isFloat: Boolean, i: Int): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)

  // Static element-nullability, hoisted once per plan: a side whose
  // ArrayType carries containsNull = false (array literals via typedLit,
  // array(...) of non-null columns, aggregation-built vectors) provably
  // has no null elements, so its per-element isNullAt test is dead code
  // — dropping it keeps the O(d) inner loop of the O(n²) pair joins
  // pure multiply-accumulate. Parquet-sourced arrays say
  // containsNull = true (the writer's schema default even for dense
  // data), so THOSE keep the per-element check: the check is the null
  // contract, and narrowing the type on a caller's say-so would turn a
  // wrong certificate into silently-read garbage values rather than a
  // plan error — not worth the branch it saves.
  private lazy val leftMayHaveNullElems =
    left.dataType.asInstanceOf[ArrayType].containsNull
  private lazy val rightMayHaveNullElems =
    right.dataType.asInstanceOf[ArrayType].containsNull

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val rf = right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val lcn = leftMayHaveNullElems
    val rcn = rightMayHaveNullElems
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if ((lcn && x.isNullAt(i)) || (rcn && y.isNullAt(i))) return null
      val xv = elem(x, lf, i)
      val yv = elem(y, rf, i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGet = if (left.dataType.asInstanceOf[ArrayType].elementType == FloatType)
      (a: String, i: String) => s"(double) $a.getFloat($i)"
    else (a: String, i: String) => s"$a.getDouble($i)"
    val rightGet = if (right.dataType.asInstanceOf[ArrayType].elementType == FloatType)
      (a: String, i: String) => s"(double) $a.getFloat($i)"
    else (a: String, i: String) => s"$a.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      // same NULL contract as the interpreted path: length mismatch,
      // null element, or zero-norm side → NULL, not a truncated score.
      // Element null tests are emitted ONLY for sides whose static type
      // says elements may be null (containsNull) — a typedLit query
      // vector or array()-built side compiles to the check-free
      // multiply-accumulate loop (see leftMayHaveNullElems).
      val elemNullTest = (leftMayHaveNullElems, rightMayHaveNullElems) match {
        case (true, true) => s"$a.isNullAt($i) || $b.isNullAt($i)"
        case (true, false) => s"$a.isNullAt($i)"
        case (false, true) => s"$b.isNullAt($i)"
        case (false, false) => ""
      }
      val guard = if (elemNullTest.isEmpty) ""
        else s"if ($elemNullTest) { ${ev.isNull} = true; break; }"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $guard
         |    double $xv = ${leftGet(a, i)};
         |    double $yv = ${rightGet(b, i)};
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  if (!${ev.isNull}) {
         |    if ($na == 0.0 || $nb == 0.0) { ${ev.isNull} = true; }
         |    else { ${ev.value} =
         |      $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb)); }
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column-API entry point. */
  def cosineSim(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}
