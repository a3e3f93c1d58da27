package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** First `nibbles` hex characters of md5(input) as an unsigned long — the
  * exact value of the engine-portable composition
  * `conv(substring(md5(c), 1, nibbles), 16, 10)` (DuckDB mirror:
  * `CAST(('0x' || substr(md5(x), 1, nibbles)) AS BIGINT)`), computed
  * directly from the digest bytes as a native codegen'd expression.
  *
  * Why not the built-in composition: Spark's `Md5` calls
  * `DigestUtils.md5Hex`, which performs a `MessageDigest.getInstance`
  * provider lookup PER ROW and allocates a 32-char hex `UTF8String`; the
  * `substring` then copies it and `conv` re-parses the hex digits through
  * `NumberConverter`. This expression reuses a thread-local digest and
  * emits the long with shift/mask arithmetic — same value, none of the
  * per-row allocation (measured ~3× on the shingle-hash pipelines, which
  * sit under every minhash/winnow/gram operator; optimization guide §1.2
  * step 2 "per-task work"). Round16OpsSpec pins value-equality against the
  * built-in composition on randomized inputs.
  *
  * Input is BINARY (callers cast their string column, which is the same
  * UTF-8-bytes cast the analyzer inserted for `md5`); null in → null out,
  * exactly like the md5 chain. Supported prefix widths: 8 (32-bit base
  * hash) and 15 (60-bit — 16 would overflow a signed BIGINT in DuckDB).
  */
case class Md5PrefixLong(child: Expression, nibbles: Int)
    extends UnaryExpression {
  require(nibbles == 8 || nibbles == 15,
    s"Md5PrefixLong: unsupported prefix width $nibbles")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_prefix"

  override def nullSafeEval(b: Any): Any =
    Md5PrefixLong.prefix(b.asInstanceOf[Array[Byte]], nibbles)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      b => s"graft.functions.Md5PrefixLong$$.MODULE$$.prefix($b, $nibbles)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5PrefixLong {
  private val local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** First `nibbles` hex chars of md5(bytes) as an unsigned long.
    * nibbles=8 → digest bytes 0..3 big-endian; nibbles=15 → bytes 0..7
    * big-endian shifted right 4 (the 16th hex char is the low nibble of
    * byte 7, which the 15-char prefix excludes).
    */
  def prefix(bytes: Array[Byte], nibbles: Int): Long = {
    val d = local.get()
    val h = d.digest(bytes) // digest() resets the instance
    if (nibbles == 8)
      ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
    else {
      var v = 0L
      var i = 0
      while (i < 8) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
      v >>> 4
    }
  }
}

/** 32-bit SimHash of an `array<string>` of tokens as a BIGINT in
  * [0, 2^32): every token's 32-bit md5-prefix base hash
  * ([[Md5PrefixLong]], width 8) casts one ±1 vote per bit, and bit j is
  * set iff its votes sum to > 0. Duplicate tokens vote once each (term
  * frequency weighting) and a tie leaves the bit at 0 — the value of the
  * DuckDB mirror's per-row `list_transform` / `list_sum` and of the
  * explode → 32 conditional sums → regroup plan this replaces, computed
  * in one pass over the row's array with one digest per token.
  *
  * A null element votes like hash 0 (−1 on every bit), as the null base
  * hash did in the `when(bit = 1, 1).otherwise(-1)` forms. A null array
  * gives 0, not null, like the oracle's `CASE WHEN list_sum(NULL) > 0`:
  * the result is never null.
  */
case class SimHash32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_simhash"

  override def eval(input: InternalRow): Any = {
    val tokens = child.eval(input)
    if (tokens == null) 0L else SimHash32.sketch(tokens.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = ${c.isNull} ? 0L
        : graft.functions.SimHash32$$.MODULE$$.sketch(${c.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash32 {
  /** The sketch of one token array (elements are UTF-8 strings). */
  def sketch(tokens: ArrayData): Long = {
    val votes = new Array[Int](32)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      val h = if (tokens.isNullAt(i)) 0L
        else Md5PrefixLong.prefix(tokens.getUTF8String(i).getBytes, 8)
      var j = 0
      while (j < 32) {
        votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 32) {
      if (votes(j) > 0) out |= 1L << j
      j += 1
    }
    out
  }
}
