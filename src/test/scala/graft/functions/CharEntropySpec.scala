package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Known entropies, code-point (not byte/char) counting, and null/empty
  * behavior of the one-pass entropy expression.
  */
class CharEntropySpec extends SparkSpec {

  private def h(s: String): Double =
    CharEntropy.compute(UTF8String.fromString(s))

  test("known values") {
    assert(h("aaaa") === 0.0)
    assert(math.abs(h("aabb") - 1.0) < 1e-12)
    assert(math.abs(h("abcd") - 2.0) < 1e-12)
    assert(h("") === 0.0)
  }

  test("counts code points, not UTF-16 chars or bytes") {
    // U+1F600 is a surrogate pair in UTF-16 and 4 UTF-8 bytes; as two
    // distinct code points with equal counts the entropy is exactly 1.
    assert(math.abs(h("😀a😀a") - 1.0) < 1e-12)
    // accented char: 2 UTF-8 bytes, one code point
    assert(math.abs(h("éé") - 0.0) < 1e-12)
  }

  test("stays inside whole-stage codegen (doGenCode path, not interpreted eval)") {
    GraftFunctions.register(spark)
    // range source, not a local Seq — ConvertToLocalRelation would
    // constant-fold a local relation away and leave no codegen stage
    val df = spark.range(4)
      .select(concat(lit("txt"), col("id").cast("string")).as("s"))
      .select(call_function(GraftFunctions.CharEntropyName, col("s")).as("h"))
    val gen = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(gen.contains("graft.functions.CharEntropy.compute"),
      s"expression not in generated code:\n${gen.take(800)}")
  }

  test("callable from SQL and null-safe") {
    GraftFunctions.register(spark)
    val rows = spark.sql(
      "SELECT graft_char_entropy(s) FROM VALUES ('abab'), (CAST(NULL AS STRING)) AS t(s)")
      .collect()
    assert(math.abs(rows(0).getDouble(0) - 1.0) < 1e-12)
    assert(rows(1).isNullAt(0))
  }
}
