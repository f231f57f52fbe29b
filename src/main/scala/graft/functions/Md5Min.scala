package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `md5_min(arr, prefix)` — the minimum (lexicographic, equivalently
  * unsigned-digest-byte order) of `md5(prefix || element)` over a
  * string array, as lowercase hex. Exactly
  * `array_min(transform(arr, s -> md5(concat(prefix, s))))`, but as a
  * native expression: one MessageDigest reused across the whole loop,
  * digest-byte comparison instead of per-element hex strings, and a
  * single hex conversion at the end — the hot inner pass of MinHash
  * signatures and rolling-hash fingerprints, which interpreted HOF
  * lambdas make allocation-bound.
  *
  * `min(md5(salt || shingle))` is a valid MinHash family (each salt
  * defines an independent pseudo-random permutation of shingle space),
  * and md5 hex order == digest byte order, so results are bit-identical
  * to the HOF form and to the DuckDB oracle.
  */
case class Md5Min(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), StringType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"md5_min expects (array<string>, string), got (${l.simpleString}, ${r.simpleString})")
  }

  override def nullSafeEval(arrAny: Any, prefixAny: Any): Any =
    Md5MinUtil.md5Min(arrAny.asInstanceOf[ArrayData],
      prefixAny.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (arr, prefix) =>
      s"""
         |${ev.value} = graft.functions.Md5MinUtil.md5Min($arr, $prefix);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override def nullable: Boolean = true

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Md5Min =
    copy(left = newLeft, right = newRight)
}

object Md5MinUtil {
  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
  private val HEX = "0123456789abcdef".toCharArray

  /** Null on null/empty input (matching `array_min` over an empty
    * transform); null elements are skipped like `array_min` skips
    * nulls. */
  def md5Min(arr: ArrayData, prefix: UTF8String): UTF8String = {
    if (arr == null || prefix == null) return null
    val md = digests.get()
    val prefixBytes = prefix.getBytes
    var best: Array[Byte] = null
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        md.update(prefixBytes)
        md.update(arr.getUTF8String(i).getBytes)
        val d = md.digest()
        if (best == null || java.util.Arrays.compareUnsigned(d, best) < 0) best = d
      }
      i += 1
    }
    if (best == null) null
    else {
      val out = new Array[Char](32)
      var j = 0
      while (j < 16) {
        out(2 * j) = HEX((best(j) >> 4) & 0xf)
        out(2 * j + 1) = HEX(best(j) & 0xf)
        j += 1
      }
      UTF8String.fromString(new String(out))
    }
  }
}

/** Registration for [[Md5Min]] alongside cosine_sim. */
object Md5MinRegistration {
  def register(spark: SparkSession): Unit =
    GraftFunctions.registerOnce(spark.sessionState.functionRegistry,
      FunctionIdentifier("md5_min"),
      new ExpressionInfo(classOf[Md5Min].getCanonicalName, "md5_min"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "md5_min takes exactly 2 arguments")
        Md5Min(children.head, children(1))
      })
}
