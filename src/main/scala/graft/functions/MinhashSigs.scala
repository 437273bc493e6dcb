package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** The full k-wide minhash signature of a space-separated string in ONE
  * pass: for every token, the two 32-bit halves (h1, h2) of its md5, and
  * sig(i) = min over tokens of (h1 + i·h2) mod 2^32 (the
  * Kirsch–Mitzenmacher derived family) — bit-identical to the SQL chain
  * the DuckDB oracle runs (`conv(substring(md5(token), 1|9, 8), 16, 10)`
  * + the same modular arithmetic).
  *
  * Why native: the previous formulation exploded (doc, token) × k seed
  * rows into a partial-MIN aggregation — correct and map-side combined,
  * but it ships docs×k rows through a SHUFFLE to assemble each
  * signature. Here the signature is a per-row projection computed where
  * the document bytes already are: zero shuffle, zero exchange — at
  * 100 TB the banding join becomes the ONLY shuffle in the near-dup
  * path. Token repeats are not deduplicated: duplicates cannot change a
  * minimum, and skipping the distinct pass avoids any per-row set
  * allocation.
  *
  * Reference anchor: see Dedup.scala's banding math (dd2/dd3/dd6).
  */
case class MinhashSigs(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = GraftFunctions.MinhashName

  override def nullSafeEval(input: Any): Any =
    MinhashSigs.compute(input.asInstanceOf[UTF8String], numHashes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinhashSigs.compute($c, $numHashes);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSigs {

  private val Mod = 0xffffffffL // (x & Mod) == x mod 2^32 for x >= 0


  /** Static entry point shared by eval and generated code. */
  def compute(s: UTF8String, k: Int): GenericArrayData =
    new GenericArrayData(computeMins(s, k, 1))

  /** The k mins over the string's word `gram`-shingles (gram = 1:
    * tokens; gram = 2: adjacent-pair shingles digested verbatim from the
    * byte buffer, BigramMd5Hashes' trick — `"w_i w_{i+1}"` IS the slice
    * from token i's start to token i+1's end). A gram-2 input with fewer
    * than two tokens has no shingle: the mins stay Long.MaxValue, and
    * callers must pre-filter (a shingle-less doc belongs in no band).
    *
    * REPEATED shingles are byte-compared away before the md5: a
    * duplicate cannot change any of the k mins, but it used to pay a
    * full digest + k-long seed loop per OCCURRENCE. On a repetitive
    * corpus (this testdata: ~40-word vocabulary, ~10x occurrence/
    * distinct ratio) that was ~90% of the expression's work. The dedup
    * set is open-addressed over (offset, len) slices with byte-exact
    * confirmation on probe hits, so a 32-bit mix collision can only
    * cost a probe step, never drop a distinct shingle — the result is
    * bit-identical to the dedup-free pass by the duplicates-cannot-
    * change-a-min argument.
    */
  private[functions] def computeMins(s: UTF8String, k: Int, gram: Int): Array[Long] = {
    val bytes = s.getBytes
    val n = bytes.length
    val digest = Md5Local.get()
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    // open-addressed seen-set: slot -> packed (offset << 24 | len),
    // -1 = empty. Sized for ~hundreds of distinct shingles, grown 2x
    // at 60% load; offsets fit 40 bits (UTF8String payloads are far
    // below 2^40 bytes) and token lengths 24 bits.
    var cap = 256
    var mask = cap - 1
    var table = new Array[Long](cap)
    java.util.Arrays.fill(table, -1L)
    var used = 0
    def mix(from: Int, len: Int): Int = {
      var h = 0x9e3779b9
      var j = from
      val end = from + len
      while (j < end) { h = (h ^ bytes(j)) * 0x01000193; j += 1 }
      h
    }
    var start = 0
    var prevStart = -1 // previous token's start; -1 until one token seen
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == ' ') { // token is bytes[start, i)
        val from = if (gram == 1) start else prevStart
        if (from >= 0) { // shingle is bytes[from, i)
          val len = i - from
          // probe the seen-set; byte-compare on every non-empty slot.
          // A shingle too long for the 24-bit len field (>= 16 MiB)
          // skips dedup entirely (treated as fresh, never stored) —
          // pure wasted-work, never wrong.
          val dedupable = len < (1 << 24)
          var slot = mix(from, len) & mask
          var fresh = true
          var probing = dedupable
          while (probing) {
            val packed = table(slot)
            if (packed == -1L) probing = false
            else {
              val off2 = (packed >>> 24).toInt
              val len2 = (packed & 0xffffffL).toInt
              if (len2 == len && {
                var j = 0
                while (j < len && bytes(off2 + j) == bytes(from + j)) j += 1
                j == len
              }) { fresh = false; probing = false }
              else slot = (slot + 1) & mask
            }
          }
          if (fresh) {
            if (dedupable) {
              table(slot) = (from.toLong << 24) | len.toLong
              used += 1
              // grow only when an insert actually happened — a
              // non-dedupable (never-inserted) shingle can't raise load
              if (used * 5 > cap * 3) { // grow at 60% load
                val old = table
                cap <<= 1; mask = cap - 1
                table = new Array[Long](cap)
                java.util.Arrays.fill(table, -1L)
                var t = 0
                while (t < old.length) {
                  val p = old(t)
                  if (p != -1L) {
                    var s2 = mix((p >>> 24).toInt, (p & 0xffffffL).toInt) & mask
                    while (table(s2) != -1L) s2 = (s2 + 1) & mask
                    table(s2) = p
                  }
                  t += 1
                }
              }
            }
            digest.reset()
            digest.update(bytes, from, len)
            val d = digest.digest()
            val h1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
              ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
            val h2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
              ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
            var seed = 0
            var h = h1 // (h1 + seed*h2) built incrementally, masked to 32 bits
            while (seed < k) {
              if (h < mins(seed)) mins(seed) = h
              h = (h + h2) & Mod
              seed += 1
            }
          }
        }
        prevStart = start
        start = i + 1
      }
      i += 1
    }
    mins
  }

  /** Fused minhash → LSH banding: the numHashes/bandSize banding table's
    * band-signature longs computed straight from the text, skipping the
    * k-long signature array materialization AND the interpreted
    * slice → cast(array<string>) → concat_ws → md5 → conv chain the
    * column-level banding ran per band. Each band signature is the top
    * 60 bits of md5 over the ","-joined decimal minhash values —
    * bit-identical to the SQL chain (`conv(substr(md5(string_agg(...)),
    * 1, 15), 16, 10)` = the first 15 hex chars = bigEndian64 >>> 4).
    */
  def computeBandSigs(
      s: UTF8String, numHashes: Int, bandSize: Int, gram: Int): GenericArrayData = {
    val mins = computeMins(s, numHashes, gram)
    val numBands = numHashes / bandSize
    val digest = Md5Local.get()
    val out = new Array[Long](numBands)
    val buf = new java.lang.StringBuilder(bandSize * 11)
    var b = 0
    while (b < numBands) {
      buf.setLength(0)
      var r = 0
      while (r < bandSize) {
        if (r > 0) buf.append(',')
        buf.append(mins(b * bandSize + r))
        r += 1
      }
      digest.reset()
      // decimal digits + ',' are single-byte in UTF-8/ISO-8859-1 alike
      digest.update(buf.toString.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
      val d = digest.digest()
      var v = 0L
      var j = 0
      while (j < 8) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
      out(b) = v >>> 4 // first 15 hex chars = top 60 bits
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Fused minhash → banding projection: `array<long>` of the
  * numHashes/bandSize LSH band signatures of a document, computed in one
  * native pass (see [[MinhashSigs.computeBandSigs]]). `gram` = 1 bands
  * word shingles (dd3/dd6/cp1), 2 bands adjacent-pair shingles (dd7's
  * order-sensitive candidates). Zero exchange: banding becomes
  * posexplode of this per-row value, and the banding self-join stays the
  * only shuffle in the near-dup path.
  */
case class MinhashBandSigs(child: Expression, numHashes: Int, bandSize: Int, gram: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = GraftFunctions.BandSigsName

  override def nullSafeEval(input: Any): Any =
    MinhashSigs.computeBandSigs(input.asInstanceOf[UTF8String], numHashes, bandSize, gram)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinhashSigs.computeBandSigs($c, $numHashes, $bandSize, $gram);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
