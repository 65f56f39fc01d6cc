package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `md5_lsh_buckets(vec, bits)` — all [[Md5LshBuckets.NumTables]]
  * md5-plane LSH bucket ids of an embedding in ONE fused pass:
  * `array<long>` of NumTables entries, entry *t* packing `bits` sign
  * bits of the vector's dot products with that table's ±1 md5-derived
  * planes ([[Md5LshBuckets.plane]] — the oracle-replayable plane
  * family of `ann_lsh_md5_topk` / `ann_lsh_scaled_topk`).
  *
  * Replaces `NumTables × bits` composed
  * `when(vec_dot(v, lit(plane)) > 0, 1L << b)` calls (the [[LshBuckets]]
  * lesson applied to the md5-plane family): per-call literal-array
  * plumbing and a 100+-expression tree dominated the bucketing scan.
  * Identical arithmetic — left-to-right double accumulation per
  * plane, STRICT `> 0` sign test (vs LshBuckets' `>= 0`; the md5
  * family's composed form used `> 0`), bits summed as disjoint
  * powers — so bucket ids match the composed form bit-for-bit and the
  * DuckDB oracle (which re-derives the planes from md5) is unchanged.
  *
  * One divergence, on NULL input only: the composed
  * `when(...).otherwise(0)` form gave a NULL embedding an all-zero
  * bucket array (the row survived `posexplode` into bucket 0); this
  * expression returns NULL, so such a row drops out. Unreachable on the
  * corpus, whose embeddings are non-null.
  */
case class Md5LshBuckets(child: Expression, bits: Int)
    extends UnaryExpression {
  import Md5LshBuckets._

  require(bits >= 1 && bits <= MaxBits,
    s"md5_lsh_buckets bits must be in [1, $MaxBits], got $bits")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"md5_lsh_buckets expects array<float|double>, got ${other.simpleString}")
    }

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), Dim)
    val isFloat = elemType == FloatType
    val out = new Array[Long](NumTables)
    var t = 0
    while (t < NumTables) {
      var bucket = 0L
      var j = 0
      while (j < bits) {
        val base = (t * MaxBits + j) * Dim
        var sum = 0.0
        var i = 0
        while (i < n) {
          val xv = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
          sum += Planes(base + i) * xv
          i += 1
        }
        if (sum > 0) bucket += 1L << j
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val planes = ctx.addReferenceObj("planes", Planes, "double[]")
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val bucket = ctx.freshName("bucket")
      val base = ctx.freshName("base")
      val getV = CodeGenerator.getValue(v, elemType, i)
      s"""
         |int $n = $v.numElements() < $Dim ? $v.numElements() : $Dim;
         |long[] $out = new long[$NumTables];
         |for (int $t = 0; $t < $NumTables; $t++) {
         |  long $bucket = 0L;
         |  for (int $j = 0; $j < $bits; $j++) {
         |    int $base = ($t * $MaxBits + $j) * $Dim;
         |    double $sum = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $sum += $planes[$base + $i] * (double)($getV);
         |    }
         |    if ($sum > 0) $bucket += 1L << $j;
         |  }
         |  $out[$t] = $bucket;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression)
      : Md5LshBuckets = copy(child = newChild)
}

object Md5LshBuckets {
  val Dim = 64
  val NumTables = 16

  /** Plane-budget ceiling — the scaled form's
    * `Similarity.ScaledLshMaxBits`, so the capacity rule can never ask
    * for more planes than exist; the fixed-parameter md5 form uses the
    * first 4.
    */
  val MaxBits: Int = graft.operators.Similarity.ScaledLshMaxBits

  /** Deterministic ±1 sign-projection plane (t, b): coefficient d is
    * the parity of the first hex digit of md5("lsh:t:b:d") — THE
    * md5-plane derivation (no RNG; DuckDB's oracle rebuilds the same
    * literals). `Similarity.md5Plane` delegates here so the operator
    * and the fused expression cannot drift.
    */
  def plane(t: Int, b: Int): Array[Float] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(Dim) { d =>
      val h = md.digest(s"lsh:$t:$b:$d".getBytes("UTF-8"))
      if (((h(0) >> 4) & 1) == 1) 1.0f else -1.0f
    }
  }

  /** All planes flattened row-major `double[(t*MaxBits + b)*Dim + i]`
    * — ±1.0 doubles, so `plane[i] * (double)v[i]` is bit-identical to
    * the composed `vec_dot(v, lit(planeFloats))` products.
    */
  val Planes: Array[Double] = {
    val out = new Array[Double](NumTables * MaxBits * Dim)
    for (t <- 0 until NumTables; b <- 0 until MaxBits) {
      val p = plane(t, b)
      var i = 0
      while (i < Dim) {
        out((t * MaxBits + b) * Dim + i) = p(i).toDouble
        i += 1
      }
    }
    out
  }
}
