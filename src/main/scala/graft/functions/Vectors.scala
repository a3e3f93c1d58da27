package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Cosine similarity between two array<double> columns as a native Catalyst
  * expression with whole-stage codegen — the one genuinely custom expression
  * the engine needs (SURVEY §7.3): the built-in route
  * (`aggregate(zip_with(...))`) allocates an intermediate array per row and
  * breaks the fold into three higher-order-function evals, which is exactly
  * the kind of per-row overhead that matters when scoring 10^11 vector pairs.
  *
  * Semantics: dot(a,b) / (‖a‖·‖b‖); 0.0 when either norm is zero; null when
  * either input is null; mismatched lengths score over the common prefix
  * (caller guarantees equal dims in practice).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // Callers (Vectors.cosine) cast both sides to array<double>; no
  // ExpectsInputTypes because AbstractDataType is private[sql] in Spark 4.
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0
    else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0)
         |  ? 0.0 : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Exact integer dot product of two array<bigint> columns as a native
  * codegen'd expression — the fixed-point sibling of [[CosineSimilarity]]
  * for the integer-grid kernels (q370 MMD, exact-arithmetic distance
  * audits): the built-in `aggregate(zip_with(...))` route is interpreted
  * per element and allocates an intermediate array per ROW, which is a
  * ~10× tax on a 10⁶⁺-pair stage. Long arithmetic throughout (callers
  * guarantee products fit; Spark's non-ANSI overflow would wrap
  * silently, as with every built-in). Mismatched lengths score the
  * common prefix; null inputs are null.
  */
case class LongDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_dot_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0L
    var i = 0
    while (i < n) {
      dot += x.getLong(i) * y.getLong(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $dot = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column-level vector functions. */
object Vectors {

  /** Codegen'd exact integer dot product (see [[LongDotProduct]]). */
  def dotLong(a: Column, b: Column): Column =
    GraftBridge.column(LongDotProduct(
      GraftBridge.expression(a.cast("array<bigint>")),
      GraftBridge.expression(b.cast("array<bigint>"))))

  /** Codegen'd cosine similarity (see [[CosineSimilarity]]). Inputs are cast
    * to array<double> so float32 embeddings work directly.
    */
  def cosine(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(
      GraftBridge.expression(a.cast("array<double>")),
      GraftBridge.expression(b.cast("array<double>"))))

  /** Built-in-composition dot product — reference implementation used by
    * tests to cross-check the codegen'd expression.
    */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(zip_with(a.cast("array<double>"), b.cast("array<double>"), _ * _),
      lit(0.0), _ + _)

  def l2Norm(a: Column): Column = sqrt(dotProduct(a, a))

  /** Pinned ±1 hyperplane pattern: plane j's i-th component is derived from
    * the MD5 of "j:i" (LSB of byte 0). Shared by [[hyperplaneBucket]] and
    * the DuckDB oracle generator so both engines bucket identically.
    */
  def planeCoefs(j: Int, dim: Int): Seq[Double] =
    (0 until dim).map { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$j:$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 1) 1.0 else -1.0
    }

  /** Deterministic LSH hyperplane bucket for a vector: `nPlanes` sign bits,
    * plane j's i-th component derived from the pinned hash of "j:i" mapped
    * to ±1. Cheap, data-independent, identical across engines — the bucket
    * path for ANN at scale (probe same-bucket candidates only).
    */
  def hyperplaneBucket(vec: Column, dim: Int, nPlanes: Int = 8): Column = {
    val v = vec.cast("array<double>")
    // fail fast on a dim mismatch: zip_with would otherwise null-pad, every
    // dot product would go null, and all vectors would silently land in
    // bucket 0 (degenerating ANN to a full scan with zero recall signal)
    val checked = when(size(v) === dim, v).otherwise(
      raise_error(concat(lit(s"hyperplaneBucket: expected dim $dim, got "),
        size(v).cast("string"))))
    val bits = (0 until nPlanes).map { j =>
      // pinned ±1 pattern per plane; computed once per row via literals
      val dot = aggregate(
        zip_with(checked, array(planeCoefs(j, dim).map(lit): _*), _ * _),
        lit(0.0), _ + _)
      when(dot > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }
}
