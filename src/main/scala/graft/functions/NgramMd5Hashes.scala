package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Sorted DISTINCT word n-gram hashes of a space-separated string — the
  * general-n sibling of [[BigramMd5Hashes]] (which stays as the
  * specialized n=2 form used by dd7/tx7). For every window of `n`
  * adjacent tokens, the first 32 md5 bits of `"w_i … w_{i+n-1}"` as an
  * unsigned long, bit-identical to the DuckDB oracle chain
  * `CAST('0x' || substr(md5(array_to_string(words[i:i+n-1], ' ')), 1, 8) AS BIGINT)`.
  *
  * Same zero-allocation trick as the bigram form: tokens split on a
  * single space are contiguous in the original buffer, so the n-gram
  * string IS the byte slice from token i's start to token i+n-1's end
  * (empty tokens from repeated spaces included), and no per-gram string
  * is ever materialized. One token-boundary scan, one md5 per window,
  * sort + dedupe in place.
  *
  * Built for decontamination (dc*): at 100 TB the per-document gram
  * extraction must be scan-bound CPU work inside whole-stage codegen —
  * the interpreted `transform`-over-`sequence` form pays per-element
  * lambda dispatch plus hex round-trips and was measured 3–7× slower on
  * the same corpus (see Dedup.scala's dd7 history).
  */
case class NgramMd5Hashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n-gram width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = GraftFunctions.NgramName

  override def nullSafeEval(input: Any): Any =
    NgramMd5Hashes.compute(input.asInstanceOf[UTF8String], n)

  // One static call per row: tight loop in `compute`, tiny generated code.
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NgramMd5Hashes.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** POSITIONAL 60-bit word n-gram hashes of a space-separated string:
  * element i (0-based) is the hash of the gram starting at token i+1, so
  * `posexplode` downstream recovers the 1-based start position for free.
  * Unlike [[NgramMd5Hashes]] this neither sorts nor dedupes — the
  * exact-substring scrub (dd10/sm15) needs every occurrence with its
  * offset to expand coverage spans.
  *
  * Hash = first 15 hex chars of md5 of the gram bytes as an unsigned
  * long — bit-identical to both the interpreted chain it replaces
  * (`conv(substring(md5(concat_ws(' ', slice(toks, i, n))), 1, 15), 16, 10)`)
  * and the DuckDB oracle
  * (`CAST('0x' || substr(md5(array_to_string(toks[i:i+n-1], ' ')), 1, 15) AS BIGINT)`).
  * 60 bits because that is the widest hex prefix a signed 64-bit int
  * holds in both engines. Short strings (< n tokens) yield an empty
  * array — the sequence(1,0)-descends trap the interpreted form had to
  * guard against cannot arise here.
  *
  * Same zero-allocation byte-slice trick as the siblings: tokens split
  * on a single space are contiguous in the input buffer, so each gram IS
  * a byte range. BENCH_NOTES named the interpreted chain over 2.7M grams
  * as dd10's cost center; this moves the whole pass into one codegen'd
  * static call per row.
  */
case class PositionalNgramMd5Hashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"n-gram width must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = GraftFunctions.PosNgramName

  override def nullSafeEval(input: Any): Any =
    NgramMd5Hashes.computePositional(input.asInstanceOf[UTF8String], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NgramMd5Hashes.computePositional($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NgramMd5Hashes {


  /** Positional entry point shared by eval and generated code: per-window
    * top-60-bit md5 values in window order, no sort, no dedupe.
    */
  def computePositional(s: UTF8String, n: Int): GenericArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    var tokens = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') tokens += 1; i += 1 }
    val windows = tokens - n + 1
    if (windows <= 0 || len == 0) return new GenericArrayData(Array.empty[Long])

    val starts = new Array[Int](tokens)
    var t = 1
    i = 0
    while (i < len) { if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }; i += 1 }

    val digest = Md5Local.get()
    val out = new Array[Long](windows)
    var w = 0
    while (w < windows) {
      val from = starts(w)
      val until = if (w + n < tokens) starts(w + n) - 1 else len
      digest.reset()
      digest.update(bytes, from, until - from)
      val d = digest.digest()
      // first 15 hex chars = top 60 bits: 7 full bytes + the high nibble
      out(w) = ((d(0) & 0xffL) << 52) | ((d(1) & 0xffL) << 44) |
        ((d(2) & 0xffL) << 36) | ((d(3) & 0xffL) << 28) |
        ((d(4) & 0xffL) << 20) | ((d(5) & 0xffL) << 12) |
        ((d(6) & 0xffL) << 4) | ((d(7) & 0xf0L) >> 4)
      w += 1
    }
    new GenericArrayData(out)
  }

  /** Static entry point shared by eval and generated code. */
  def compute(s: UTF8String, n: Int): GenericArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    // token starts: 0 and every position after a space
    var tokens = 1
    var i = 0
    while (i < len) { if (bytes(i) == ' ') tokens += 1; i += 1 }
    val windows = tokens - n + 1
    if (windows <= 0 || len == 0) return new GenericArrayData(Array.empty[Long])

    val starts = new Array[Int](tokens)
    var t = 1
    i = 0
    while (i < len) { if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }; i += 1 }

    val digest = Md5Local.get()
    val out = new Array[Long](windows)
    var w = 0
    while (w < windows) {
      // gram = bytes[starts(w), end): tokens w..w+n-1 verbatim, where end is
      // the char before token w+n's start (or the end of the buffer)
      val from = starts(w)
      val until = if (w + n < tokens) starts(w + n) - 1 else len
      digest.reset()
      digest.update(bytes, from, until - from)
      val d = digest.digest()
      out(w) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      w += 1
    }
    // sorted distinct, in place
    java.util.Arrays.sort(out)
    var keep = 0
    i = 0
    while (i < out.length) {
      if (i == 0 || out(i) != out(i - 1)) { out(keep) = out(i); keep += 1 }
      i += 1
    }
    new GenericArrayData(
      if (keep == out.length) out else java.util.Arrays.copyOf(out, keep))
  }
}
