package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.SparkShim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 64-bit SimHash over a token array — a native Catalyst expression (no UDF):
  * per token, xxhash64 the UTF-8 bytes; accumulate ±1 per bit; the sign vector
  * is the fingerprint. Near-duplicate docs differ in few bits, so Hamming
  * distance (bit_count(a ^ b)) approximates edit similarity.
  *
  * Kept imperative (CodegenFallback) — one pass over ~100 tokens/row, runs at
  * hash throughput; the surrounding plan stays codegen'd.
  */
case class SimHash64(child: Expression) extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = LongType
  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash64 expects array<string>, got $other")
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val acc = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes(), 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) >= 0) out |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** Column wrapper: simhash64(tokensCol). */
  def simhash64(tokens: Column): Column =
    SparkShim.column(SimHash64(SparkShim.expression(tokens)))
}
