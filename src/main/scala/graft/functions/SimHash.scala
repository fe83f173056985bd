package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash of whitespace-tokenized text as a native Catalyst
  * expression (SURVEY §2.10 guidance: custom `Expression` over UDF).
  *
  * For each token, a 64-bit FNV-1a hash votes ±1 on each of 64 bit
  * counters; the sign of each counter becomes the output bit. Documents
  * with small Hamming distance between SimHashes are near-duplicates.
  *
  * `doGenCode` emits a direct static call, so the expression stays inside
  * whole-stage codegen — one virtual call per row, no boxing, no UDF
  * serialization. At 100 TB this runs at scan speed.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** Column-API entry point: simhash64($"text"). */
  def apply(c: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(c)))

  import KernelMath.{FNV_OFFSET, FNV_PRIME, fmix64}

  import TokenWindows.isWs

  /** Static helper invoked from both interpreted eval and generated code. */
  def compute(s: UTF8String): Long = {
    val bytes = s.getBytes
    val counters = new Array[Int](64)
    var i = 0
    val n = bytes.length
    while (i < n) {
      // skip whitespace
      while (i < n && isWs(bytes(i))) i += 1
      if (i < n) {
        var h = FNV_OFFSET
        while (i < n && !isWs(bytes(i))) {
          h ^= (bytes(i) & 0xffL)
          h *= FNV_PRIME
          i += 1
        }
        // avalanche so low bits are well distributed
        h = fmix64(h)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
          b += 1
        }
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Hamming distance between two simhashes (bit_count of xor). */
  def hamming(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.bit_count(a.bitwiseXOR(b))
}
