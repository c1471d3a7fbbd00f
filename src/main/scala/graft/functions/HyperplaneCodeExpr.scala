package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** All random-hyperplane LSH sign bits in ONE codegen'd expression:
  * bit j of the returned long = (Σᵢ v(i)·planes(j)(i) ≥ 0), the same
  * ascending-i fold as [[DotProductFold]] so every bit is value-
  * identical to `dot(v, hyperplane(j, dim)) >= 0.0` — the form the
  * DuckDB oracles unroll. One tight generated loop over a constant
  * double[][] replaces either nPlanes inlined dot expressions (which
  * grow generated code linearly and OOM Janino near 64 in one
  * projection) or an interpreted higher-order fold (measured ~19 ms
  * PER ROW at 64 planes × 64 dims — boxing and lambda dispatch on
  * every element — versus microseconds here).
  *
  * Null semantics — one INTENTIONAL divergence from the composed
  * `when(dot >= 0, bit).otherwise(0)` form: for a null INPUT ARRAY the
  * composed reduce yields 0L (null condition falls to otherwise) while
  * this expression, a standard null-intolerant UnaryExpression, yields
  * NULL — so a null embedding drops out of the bucket equi-join
  * instead of landing in bucket 0. That is the better behavior (a
  * null vector can never pass the exact-cosine verify, so bucketing it
  * only inflates the candidate join with pairs the verify then
  * discards), and final PAIR outputs are identical under both forms.
  * A null ELEMENT matches the composed form exactly: it makes every
  * plane's dot null, whose `>= 0.0` is null, which `when(...)` lowers
  * to bit 0 — so the code is 0L for any vector containing a null
  * element.
  */
case class HyperplaneCode(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression {
  require(planes.nonEmpty && planes.length <= 64,
    s"1..64 planes, got ${planes.length}")

  override def dataType: DataType = LongType

  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def mayHaveNullElems: Boolean = child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_code needs array<float|double> input, got $other")
    }

  override protected def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = v.numElements()
    if (mayHaveNullElems) {
      var i = 0
      while (i < n) { if (v.isNullAt(i)) return 0L; i += 1 }
    }
    val isF = elemIsFloat
    var code = 0L
    var j = 0
    while (j < planes.length) {
      val p = planes(j)
      val m = math.min(n, p.length)
      var acc = 0.0
      var i = 0
      while (i < m) {
        val xv = if (isF) v.getFloat(i).toDouble else v.getDouble(i)
        acc += xv * p(i)
        i += 1
      }
      if (acc >= 0.0) code |= 1L << j
      j += 1
    }
    code
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val mat = ctx.addReferenceObj("planes", planes, "double[][]")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val p = ctx.freshName("p")
      val acc = ctx.freshName("acc")
      val code = ctx.freshName("code")
      val getX = if (elemIsFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      // the null-element early-out is a flag, not a `return` — the
      // generated snippet can land inside an arbitrary codegen context
      val guarded =
        if (mayHaveNullElems)
          s"""boolean ${code}_hasNull = false;
             |for (int $i = 0; $i < $n && !${code}_hasNull; $i++) {
             |  if ($a.isNullAt($i)) ${code}_hasNull = true;
             |}
             |if (!${code}_hasNull) {""".stripMargin
        else "{"
      s"""
         |int $n = $a.numElements();
         |long $code = 0L;
         |$guarded
         |  for (int $j = 0; $j < $mat.length; $j++) {
         |    double[] $p = $mat[$j];
         |    int $m = java.lang.Math.min($n, $p.length);
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $m; $i++) {
         |      $acc += $getX * $p[$i];
         |    }
         |    if ($acc >= 0.0) $code |= 1L << $j;
         |  }
         |}
         |${ev.value} = $code;
       """.stripMargin
    })

  override def prettyName: String = "hyperplane_code"

  // Array fields compare by reference under case-class equality; every
  // builder call makes a fresh matrix, so semanticEquals across
  // separately-built instances is false — safe (only disables common-
  // subexpression sharing between them, never correctness). Within one
  // plan the instance is shared by construction.
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
