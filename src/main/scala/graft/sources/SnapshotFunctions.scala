package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Murmur3Hash}
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.types.{DataType, DateType, IntegerType, LongType, StringType, StructType, TimestampType}

/** The layout transform functions the catalog serves, bound. */
object SnapshotFunctions {

  /** `f`'s function over a `dt` column (bucket takes (n INT, col), the
    * others (col)): what [[SnapshotCatalog.loadFunction]] binds for the
    * name [[SnapshotCatalog.v2TransformOf]] gives `f`, and what the
    * data-file writer ([[graft.operators.SnapshotWriterFactory]]) rolls
    * its files on. The spec was validated against the schema when it
    * was declared.
    */
  private[graft] def bound(f: graft.operators.SnapshotLog.PartField,
      dt: DataType): ScalarFunction[_] = f.transform match {
    case "bucket" => new SnapshotBucketBound(dt)
    case "trunc" => new SnapshotTruncBound(f.n, dt)
    case t => new SnapshotTimeBound(t, dt)
  }
}

/** The snapshot catalog's V2 FUNCTION for its `bucket(n, col)` layout
  * transform — what Spark's storage-partitioned-join machinery loads
  * (via the catalog's FunctionCatalog door) to decide that two scans
  * reporting `KeyGroupedPartitioning(bucket(n, col))` are partitioned
  * COMPATIBLY: equality is the bound function's `canonicalName`, so it
  * encodes the column type (murmur3 of an int and of a long differ on
  * the same value — tables keyed on different physical types must NOT
  * co-join without a shuffle).
  *
  * The evaluation is the exact expression the writer routes and stamps
  * with (`pmod(hash(col), n)` — [[graft.operators.SnapshotLog]]'s
  * bucketExpr, Spark Murmur3 seed 42, nulls hashing to the seed), so a
  * partition value computed here can never disagree with a band read
  * off a manifest.
  */
object SnapshotBucketFunction extends UnboundFunction {

  override def name(): String = "bucket"

  override def description(): String =
    "bucket(n, col): pmod(murmur3_hash(col), n) — the snapshot-log " +
      "hidden-partitioning bucket transform"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket takes (numBuckets INT, col); got ${inputType.catalogString}")
    require(inputType.fields(0).dataType == IntegerType,
      s"bucket's first argument is the INT bucket count; got " +
        inputType.fields(0).dataType.catalogString)
    new SnapshotBucketBound(inputType.fields(1).dataType)
  }
}

private[sources] final class SnapshotBucketBound(colType: DataType)
    extends ScalarFunction[java.lang.Long] {

  override def inputTypes(): Array[DataType] = Array(IntegerType, colType)

  override def resultType(): DataType = LongType

  override def isResultNullable: Boolean = false

  override def name(): String = "bucket"

  override def canonicalName(): String =
    s"graft.snapshot.bucket[${colType.catalogString}]"

  // the column value sits at ordinal 1 of the (n, col) input row;
  // Murmur3Hash(seed 42) over it is exactly the writer's hash(col)
  @transient private lazy val hasher =
    new Murmur3Hash(Seq(BoundReference(1, colType, nullable = true)))

  override def produceResult(input: InternalRow): java.lang.Long = {
    val n = input.getInt(0)
    val h = hasher.eval(input).asInstanceOf[Int]
    java.lang.Long.valueOf(((h % n) + n) % n)
  }
}

/** The TIME transforms (`days`/`hours`/`months`) as V2 functions — the
  * same FunctionCatalog door [[SnapshotBucketFunction]] serves, so two
  * day-fanout tables reporting `KeyGroupedPartitioning(days(ts))` join
  * with ZERO Exchange. Each evaluation mirrors the writer's routing
  * expression ([[graft.operators.SnapshotLog]] partExpr under the
  * engine's pinned-UTC sessions) EXACTLY — a value computed here can
  * never disagree with a band read off a manifest
  * (SnapshotTransformFunctionSpec pins the equivalence per transform).
  */
private[sources] final class SnapshotTimeFunction(transform: String)
    extends UnboundFunction {

  override def name(): String = transform

  override def description(): String =
    s"$transform(col): the snapshot-log hidden-partitioning time transform"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1,
      s"$transform takes (col); got ${inputType.catalogString}")
    val dt = inputType.fields(0).dataType
    require(dt == TimestampType || dt == DateType,
      s"$transform needs a timestamp/date column; got ${dt.catalogString}")
    new SnapshotTimeBound(transform, dt)
  }
}

private[sources] final class SnapshotTimeBound(transform: String,
    colType: DataType) extends ScalarFunction[java.lang.Long] {

  override def inputTypes(): Array[DataType] = Array(colType)
  override def resultType(): DataType = LongType
  override def name(): String = transform
  override def canonicalName(): String =
    s"graft.snapshot.$transform[${colType.catalogString}]"

  private def daysOf(input: InternalRow): Long =
    if (colType == DateType) input.getInt(0).toLong
    else Math.floorDiv(input.getLong(0), 86400000000L)

  // a null column has no time value: null, as partExpr routes it (the
  // write's clustering and the file writer both evaluate this on rows)
  override def produceResult(input: InternalRow): java.lang.Long =
    if (input.isNullAt(0)) null
    else java.lang.Long.valueOf(transform match {
      case "days" => daysOf(input)
      case "hours" =>
        if (colType == DateType) daysOf(input) * 24L
        else Math.floorDiv(input.getLong(0), 3600000000L)
      case "months" =>
        val d = java.time.LocalDate.ofEpochDay(daysOf(input))
        (d.getYear - 1970).toLong * 12L + d.getMonthValue - 1L
    })
}

/** The `trunc` transform as a WIDTH-CURRIED single-argument V2
  * function family (`trunc_<n>(col)`): numeric columns floor to a
  * multiple of the width (Iceberg's `v - (v mod w)`), string columns
  * take the n-character prefix — exactly the writer's routing
  * expression.
  *
  * Why curried: Spark's key-grouped clustering check rejects a
  * partition transform with a LITERAL child (bucket only passes
  * because `TransformExpression` smuggles its count out-of-band in
  * `numBucketsOpt`) — so a two-argument `trunc(n, col)` resolves but
  * can never satisfy the join's distribution. Baking the width into
  * the FUNCTION NAME gives the SPJ handshake the same single-reference
  * shape as `days(col)`, and the canonical name still encodes (width,
  * column type), so tables truncated at different widths must NOT
  * co-join without a shuffle.
  */
private[sources] final class SnapshotTruncFunction(width: Int)
    extends UnboundFunction {

  override def name(): String = s"trunc_$width"

  override def description(): String =
    s"trunc_$width(col): width-$width floor (numeric) / prefix (string)"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1,
      s"trunc_$width takes (col); got ${inputType.catalogString}")
    // reject unsupported column types HERE (resolution), mirroring
    // SnapshotTimeFunction — produceResult only evaluates long/int/
    // string, and an execution-time UnsupportedOperationException out
    // of a running join is a far worse failure than a bind refusal
    val dt = inputType.fields(0).dataType
    require(dt == StringType || dt == LongType || dt == IntegerType,
      s"trunc_$width needs a string/bigint/int column; got ${dt.catalogString}")
    new SnapshotTruncBound(width, dt)
  }
}

private[sources] final class SnapshotTruncBound(width: Int,
    colType: DataType) extends ScalarFunction[AnyRef] {

  override def inputTypes(): Array[DataType] = Array(colType)
  override def resultType(): DataType =
    if (colType == StringType) StringType else LongType
  override def name(): String = s"trunc_$width"
  override def canonicalName(): String =
    s"graft.snapshot.trunc[$width][${colType.catalogString}]"

  // null in, null out, as for the time transforms
  override def produceResult(input: InternalRow): AnyRef =
    if (input.isNullAt(0)) null
    else colType match {
      case StringType => input.getUTF8String(0).substring(0, width)
      case LongType =>
        val v = input.getLong(0)
        java.lang.Long.valueOf(v - Math.floorMod(v, width.toLong))
      case IntegerType =>
        val v = input.getInt(0).toLong
        java.lang.Long.valueOf(v - Math.floorMod(v, width.toLong))
      case other => throw new UnsupportedOperationException(
        s"trunc over ${other.catalogString}")
    }
}
