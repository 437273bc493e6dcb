package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Sorted DISTINCT bigram-shingle hashes of a space-separated string:
  * for every adjacent token pair, the first 32 md5 bits of
  * `"w_i w_{i+1}"` as an unsigned long — bit-identical to the SQL chain
  * `conv(substring(md5(concat(w_i, ' ', w_{i+1})), 1, 8), 16, 10)` the
  * DuckDB oracle runs, so swapping this in changes nothing downstream.
  *
  * Why native: the higher-order-function form (`transform` over a
  * `sequence`, md5+substring+conv per element) runs interpreted —
  * per-element lambda dispatch, a concatenated UTF8String allocation, hex
  * formatting and re-parsing per bigram — and made dd7 the most expensive
  * bench query (~2× dd4 on identical candidate sets). Here each bigram is
  * digested directly from the original byte buffer: tokens split on a
  * single space are contiguous, so `"w_i w_{i+1}"` IS the byte slice from
  * token i's start to token i+1's end (true even for empty tokens from
  * repeated spaces), and no per-bigram string is ever materialized. The
  * sort+dedupe the callers previously did via `sort_array(array_distinct)`
  * (two more interpreted array passes) is folded into the same loop.
  *
  * Reference anchor: extends the reference's exact-ID dedup spirit to
  * order-sensitive content shingles; see Dedup.scala dd7.
  */
case class BigramMd5Hashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = GraftFunctions.BigramName

  override def nullSafeEval(input: Any): Any =
    BigramMd5Hashes.compute(input.asInstanceOf[UTF8String])

  // One static call per row; the tight loop lives in `compute`, so the
  // generated code stays tiny (janino-friendly) while avoiding every
  // per-element interpreted-path cost.
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BigramMd5Hashes.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BigramMd5Hashes {


  /** Static entry point shared by eval and generated code. */
  def compute(s: UTF8String): GenericArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    // token starts: 0 and every position after a space (split-on-' '
    // semantics, trailing/empty tokens included)
    var spaces = 0
    var i = 0
    while (i < n) { if (bytes(i) == ' ') spaces += 1; i += 1 }
    if (spaces == 0) return new GenericArrayData(Array.empty[Long])

    val digest = Md5Local.get()
    val out = new Array[Long](spaces)
    var pair = 0
    var start = 0 // current token's start
    var prevStart = -1 // previous token's start (-1 until one token seen)
    i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') { // token ends at i (exclusive)
        if (prevStart >= 0) {
          // bigram = bytes[prevStart, i): "w_{k-1} w_k" verbatim
          digest.reset()
          digest.update(bytes, prevStart, i - prevStart)
          val d = digest.digest()
          out(pair) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          pair += 1
        }
        prevStart = start
        start = i + 1
      }
      i += 1
    }
    // sorted distinct, in place
    java.util.Arrays.sort(out)
    var w = 0
    i = 0
    while (i < out.length) {
      if (i == 0 || out(i) != out(i - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    new GenericArrayData(if (w == out.length) out else java.util.Arrays.copyOf(out, w))
  }
}
