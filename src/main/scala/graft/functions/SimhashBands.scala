package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Native Catalyst expression `simhash_bands(vec, bands, bits, dims)`:
  * the banded random-hyperplane signature of an `array<float>`
  * embedding — `bands` longs, each packing `bits` sign-bits of
  * md5-derived ±1 hyperplanes (plane p = band·bits + bit, component
  * (p, j) is +1 iff the high nibble of md5("p|j") ≥ 8; j is 1-based).
  *
  * Same rationale as [[CosineSimilarity]]: the HOF formulation
  * (`transform`/`aggregate` lambdas) is interpreted per element —
  * bands·bits·dims (= 4608 at the defaults) interpreted ops per row
  * dominated the LSH signature pass — while this compiles to three
  * nested counted loops over a cached `double[]` plane matrix inside
  * whole-stage codegen. Bit-parity with the HOF/DuckDB formulation is
  * pinned by SimhashBandsSpec: the dot product folds left-to-right over
  * the dimension index in double precision, identical IEEE sequence.
  *
  * `bands`/`bits`/`dims` must be foldable ints (they parameterize the
  * plane matrix, resolved once per (bands, bits, dims) and cached
  * process-wide).
  */
case class SimhashBands(child: Expression, bands: Int, bits: Int, dims: Int)
    extends UnaryExpression {

  override def prettyName: String = "simhash_bands"

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_bands expects array<float>, got ${other.simpleString}")
  }

  @transient private lazy val planes: Array[Double] =
    SimhashBands.planesFor(bands * bits, dims)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(dims, v.numElements())
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var band = 0L
      var r = 0
      while (r < bits) {
        val off = (b * bits + r) * dims
        var dot = 0.0
        var j = 0
        while (j < n) {
          dot += planes(off + j) * v.getFloat(j).toDouble
          j += 1
        }
        if (dot > 0.0) band |= (1L << r)
        r += 1
      }
      out(b) = band
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhashPlanes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("bandArr")
      val b = ctx.freshName("b")
      val r = ctx.freshName("r")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val band = ctx.freshName("band")
      val off = ctx.freshName("off")
      s"""
         |long[] $out = new long[$bands];
         |int $n = java.lang.Math.min($dims, $v.numElements());
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $band = 0L;
         |  for (int $r = 0; $r < $bits; $r++) {
         |    int $off = ($b * $bits + $r) * $dims;
         |    double $dot = 0.0;
         |    for (int $j = 0; $j < $n; $j++) {
         |      $dot += $ref[$off + $j] * (double) $v.getFloat($j);
         |    }
         |    if ($dot > 0.0) $band |= (1L << $r);
         |  }
         |  $out[$b] = $band;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): SimhashBands =
    copy(child = newChild)
}

object SimhashBands {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  /** ±1 plane matrix, flattened `[plane][dim]` — the md5 derivation both
    * engines share (the DuckDB oracle recomputes it inline in SQL). */
  def planesFor(numPlanes: Int, dims: Int): Array[Double] =
    cache.computeIfAbsent((numPlanes, dims), { case (np, d) =>
      Array.tabulate(np * d) { idx =>
        val p = idx / d
        val j = idx % d + 1
        val digest = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$p|$j".getBytes("UTF-8"))
        if (((digest(0) >> 4) & 0xf) >= 8) 1.0 else -1.0
      }
    })

  private def intLit(e: Expression, what: String): Int = {
    require(e.foldable, s"simhash_bands: $what must be a literal")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => other.toString.toInt
    }
  }

  def register(spark: SparkSession): Unit =
    GraftFunctions.registerOnce(spark.sessionState.functionRegistry,
      FunctionIdentifier("simhash_bands"),
      new ExpressionInfo(classOf[SimhashBands].getCanonicalName, "simhash_bands"),
      (children: Seq[Expression]) => {
        require(children.size == 4, "simhash_bands(vec, bands, bits, dims)")
        SimhashBands(children.head,
          intLit(children(1), "bands"),
          intLit(children(2), "bits"),
          intLit(children(3), "dims"))
      })
}
