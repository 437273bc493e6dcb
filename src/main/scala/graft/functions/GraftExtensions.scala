package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** `SparkSessionExtensions` hook: the only route by which the graft plan
  * rules (snapshot DML, range-join binning, TopK-per-key) and native
  * functions reach a session. `graft.GraftSession.builder` adds it to
  * every session the project builds; an external session can take it by
  * conf:
  *
  * {{{
  * spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * Sessions built without it can call `GraftFunctions.register(spark)`
  * for the native functions only — the query builders do this
  * defensively.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL MERGE INTO / UPDATE over snapshot-log catalog tables rewrite
    // to the library's MoR commit protocol during resolution (Delta's
    // technique) — see graft.plans.SnapshotDml
    ext.injectResolutionRule(_ => graft.plans.SnapshotDmlRule)
    // readStream.table over snapshot-log catalog tables resolves to
    // the V1 streaming source (plan-shaped micro-batches); the write
    // direction (writeStream.toTable) rides the table's
    // V2TableWithV1Fallback descriptor instead
    ext.injectResolutionRule(_ => graft.plans.SnapshotStreamTableRule)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinBinning)
    ext.injectOptimizerRule(_ => graft.plans.TopKViaRowNumber)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.DotName),
      new ExpressionInfo(classOf[DotProductDouble].getName, null,
        GraftFunctions.DotName, "_FUNC_(a, b) - dot product of two double arrays", ""),
      (children: Seq[Expression]) => DotProductDouble(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.IntersectName),
      new ExpressionInfo(classOf[SortedLongIntersectCount].getName, null,
        GraftFunctions.IntersectName, "_FUNC_(a, b) - intersection size of two sorted long arrays", ""),
      (children: Seq[Expression]) => SortedLongIntersectCount(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.BigramName),
      new ExpressionInfo(classOf[BigramMd5Hashes].getName, null,
        GraftFunctions.BigramName, "_FUNC_(text) - sorted distinct md5 bigram-shingle hashes", ""),
      (children: Seq[Expression]) => BigramMd5Hashes(children(0))))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.NgramName),
      new ExpressionInfo(classOf[NgramMd5Hashes].getName, null,
        GraftFunctions.NgramName, "_FUNC_(text, n) - sorted distinct md5 word n-gram hashes", ""),
      (children: Seq[Expression]) => {
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) => v.toString.toInt
          case other => throw new IllegalArgumentException(s"n must be a literal, got $other")
        }
        NgramMd5Hashes(children(0), n)
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.PosNgramName),
      new ExpressionInfo(classOf[PositionalNgramMd5Hashes].getName, null,
        GraftFunctions.PosNgramName,
        "_FUNC_(text, n) - positional 60-bit md5 word n-gram hashes", ""),
      (children: Seq[Expression]) => {
        val n = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) => v.toString.toInt
          case other => throw new IllegalArgumentException(s"n must be a literal, got $other")
        }
        PositionalNgramMd5Hashes(children(0), n)
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.TokenStatsName),
      new ExpressionInfo(classOf[TokenStats].getName, null,
        GraftFunctions.TokenStatsName,
        "_FUNC_(text, stopwords) - struct(n_tokens, n_stop) in one byte pass", ""),
      (children: Seq[Expression]) => {
        val stops = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(
              data: org.apache.spark.sql.catalyst.util.ArrayData, _) =>
            data.toObjectArray(org.apache.spark.sql.types.StringType)
              .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString).toSeq
          case other =>
            throw new IllegalArgumentException(s"stopwords must be a literal array, got $other")
        }
        TokenStats(children(0), stops)
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.AgreeName),
      new ExpressionInfo(classOf[PositionalAgreeCount].getName, null,
        GraftFunctions.AgreeName,
        "_FUNC_(a, b) - positions where two long arrays agree", ""),
      (children: Seq[Expression]) => PositionalAgreeCount(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.MinhashName),
      new ExpressionInfo(classOf[MinhashSigs].getName, null,
        GraftFunctions.MinhashName,
        "_FUNC_(text, k) - k-wide minhash signature array", ""),
      (children: Seq[Expression]) => {
        val k = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) => v.toString.toInt
          case other => throw new IllegalArgumentException(s"k must be a literal, got $other")
        }
        MinhashSigs(children(0), k)
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.BandSigsName),
      new ExpressionInfo(classOf[MinhashBandSigs].getName, null,
        GraftFunctions.BandSigsName,
        "_FUNC_(text, k, bandSize, gram) - fused minhash LSH band signatures", ""),
      (children: Seq[Expression]) => {
        def litInt(e: Expression): Int = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) => v.toString.toInt
          case other => throw new IllegalArgumentException(s"literal required, got $other")
        }
        MinhashBandSigs(children(0), litInt(children(1)), litInt(children(2)),
          litInt(children(3)))
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.RollingHashName),
      new ExpressionInfo(classOf[RollingHashWindows].getName, null,
        GraftFunctions.RollingHashName, "_FUNC_(text, k, b, m) - Rabin-Karp window hashes", ""),
      (children: Seq[Expression]) => {
        def litLong(e: Expression): Long = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) => v.toString.toLong
          case other => throw new IllegalArgumentException(s"literal required, got $other")
        }
        RollingHashWindows(children(0), litLong(children(1)).toInt,
          litLong(children(2)), litLong(children(3)))
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.BottomKName),
      new ExpressionInfo(classOf[BottomKLongs].getName, null,
        GraftFunctions.BottomKName, "_FUNC_(col, k) - k smallest distinct longs (KMV sketch)", ""),
      (children: Seq[Expression]) => {
        val k = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) => v.toString.toInt
          case other => throw new IllegalArgumentException(s"k must be a literal, got $other")
        }
        BottomKLongs(children(0), k)
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.BloomName),
      new ExpressionInfo(classOf[BloomMightContainLong].getName, null,
        GraftFunctions.BloomName,
        "_FUNC_(col, bloomBytes) - serialized-bloom membership probe", ""),
      (children: Seq[Expression]) => {
        val bytes = children(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Array[Byte], _) => v
          case other =>
            throw new IllegalArgumentException(s"bloom bytes must be a binary literal, got $other")
        }
        BloomMightContainLong(children(0), bytes)
      }))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.CharEntropyName),
      new ExpressionInfo(classOf[CharEntropy].getName, null,
        GraftFunctions.CharEntropyName,
        "_FUNC_(s) - per-code-point Shannon entropy (log2)", ""),
      (children: Seq[Expression]) => CharEntropy(children(0))))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.JaroWinklerName),
      new ExpressionInfo(classOf[JaroWinklerSimilarity].getName, null,
        GraftFunctions.JaroWinklerName,
        "_FUNC_(a, b) - Jaro-Winkler similarity", ""),
      (children: Seq[Expression]) =>
        JaroWinklerSimilarity(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.LevenshteinKName),
      new ExpressionInfo(classOf[BandedLevenshtein].getName, null,
        GraftFunctions.LevenshteinKName,
        "_FUNC_(a, b, k) - Levenshtein distance when <= k, else -1", ""),
      (children: Seq[Expression]) => BandedLevenshtein(children(0), children(1),
        children(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other =>
            throw new IllegalArgumentException(s"threshold must be an int literal, got $other")
        })))
  }
}
