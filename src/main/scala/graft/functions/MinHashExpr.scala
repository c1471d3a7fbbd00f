package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All k MinHash slots in ONE compiled pass over a shingle array:
  * slot j = min over shingles of md5("<j>|<shingle>") as the lowercase
  * hex string — exactly [[graft.operators.Dedup.minhashSignatures]]'s
  * per-slot value (a string min is as uniform as an integer min and
  * reproducible in any engine).
  *
  * Why native (guide §1.2 step 2): the column form is either an
  * explode + groupBy(k × min(md5)) aggregate — a full shuffle of the
  * shingle relation — or k × array_min(transform(...)) higher-order
  * passes, which are INTERPRETED per element (lambda dispatch, a
  * boxed md5 string per shingle per slot; measured ~5× q116's whole
  * wall when the map-side r15 rewrite first shipped on the HOF form).
  * Here: one loop over the shingles, one reused thread-local digest
  * fed the prefix and shingle bytes directly (no concat allocation,
  * no hex string until the k winners), k running minima compared on
  * raw digest bytes — hex encoding is byte-order-preserving, so the
  * unsigned byte compare IS the hex-string compare.
  *
  * Output: array<string> of length k (slot j at index j), non-null
  * elements. Empty shingle array → null (callers filter empty arrays
  * out first — the exploded groupBy form never emitted those docs).
  */
case class MinHashHex(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 1 && k <= 64, s"k must be in 1..64, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  // doGenCode assigns ev.isNull, which nullSafeCodeGen only declares for
  // a nullable expression (an empty shingle array evaluates to null)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_hex needs array<string> input — got $other")
  }

  private val prefixes: Array[Array[Byte]] =
    Array.tabulate(k)(j => s"$j|".getBytes("UTF-8"))

  override protected def nullSafeEval(input: Any): Any =
    evalShingles(input.asInstanceOf[ArrayData])

  /** Shared interpreted/codegen kernel (r16: the CodegenFallback this
    * replaced broke the WholeStageCodegen span of every signing stage
    * and paid per-row boxing at the fallback boundary — guide §1.2
    * step 2, the Md5PrefixExpr pattern). Returns null on an empty (or
    * all-null) shingle array — callers filter those rows first. */
  def evalShingles(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val md = MinHashHex.digest.get()
    val mins = new Array[Array[Byte]](k)
    var i = 0
    while (i < n) {
      // a null element cannot occur from shingle arrays (array_distinct
      // over concat_ws output); skip defensively rather than throw
      if (!arr.isNullAt(i)) {
        val sBytes = arr.getUTF8String(i).getBytes
        var j = 0
        while (j < k) {
          md.reset()
          md.update(prefixes(j))
          md.update(sBytes)
          val d = md.digest()
          val cur = mins(j)
          if (cur == null || MinHashHex.lessUnsigned(d, cur)) mins(j) = d
          j += 1
        }
      }
      i += 1
    }
    if (mins(0) == null) return null // all elements were null
    val out = new Array[AnyRef](k)
    var j = 0
    while (j < k) {
      out(j) = UTF8String.fromString(MinHashHex.toHex(mins(j)))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // instance state (the k slot prefixes) rides in as a reference
    // object; the generated call stays one virtual dispatch per row
    assert(nullable, "the generated code assigns ev.isNull")
    val ref = ctx.addReferenceObj("minHashHex", this, classOf[MinHashHex].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $ref.evalShingles($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override def prettyName: String = "minhash_hex"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashHex {
  private val digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  /** Unsigned lexicographic byte compare — identical order to comparing
    * the lowercase-hex encodings as strings (each byte maps to two hex
    * chars monotonically). */
  private[functions] def lessUnsigned(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val av = a(i) & 0xff
      val bv = b(i) & 0xff
      if (av != bv) return av < bv
      i += 1
    }
    a.length < b.length
  }

  private val HexChars = "0123456789abcdef".toCharArray

  private[functions] def toHex(d: Array[Byte]): String = {
    val cs = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      cs(2 * i) = HexChars((d(i) >> 4) & 0xf)
      cs(2 * i + 1) = HexChars(d(i) & 0xf)
      i += 1
    }
    new String(cs)
  }
}