package graft

/** The engine's queries are equally expressible through `spark.sql` over
  * registered views — the SQL face of the same Catalyst plans (the
  * reference's analytics run as SQL in its warehouse; a user can keep
  * writing SQL here).
  */
class SqlSurfaceSpec extends SparkSpec {

  test("spark.sql over registered views matches the DataFrame plan results") {
    val dir = TestSpark.Sf0001
    Seq("lineitem", "part", "orders").foreach { t =>
      Tables(spark, dir, t).createOrReplaceTempView(t)
    }
    val sql = spark.sql(
      """SELECT p_name, count(*) AS frequency
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_name ORDER BY frequency DESC, p_name LIMIT 5""".stripMargin)
    val df = SparkEntry.queries("q1_ingredient_freq")(spark, dir)
    assert(rowSet(sql) === rowSet(df))
  }

  test("registered native functions are callable from SQL") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head()
    assert(r.getDouble(0) === 11.0)
    val jw = spark.sql("SELECT graft_jaro_winkler('abc', 'abc') AS s").head()
    assert(jw.getDouble(0) === 1.0)
    val nt = spark.sql("SELECT graft_normalize_text('  A\tB  ') AS t").head()
    assert(nt.getString(0) === "a b")
    val cm = spark.sql(
      "SELECT graft_count_min(x, 2, 8) AS cm FROM VALUES ('a'), ('a') AS t(x)").head()
    assert(cm.getSeq[Long](0).sum === 4L) // 2 rows x 2 occurrences
  }

  test("custom aggregates are callable from SQL") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_misra_gries(v, 2) AS mg, graft_bottom_k(v, 3) AS bk
        |FROM VALUES (1L), (1L), (1L), (2L), (9L) AS t(v)""".stripMargin).head()
    val mg = r.getSeq[org.apache.spark.sql.Row](0).map(x => x.getLong(0) -> x.getLong(1)).toMap
    // the heavy item (count 3 of 5) survives with est >= 3 - N/(m+1)
    assert(mg.getOrElse(1L, 0L) >= 2L)
    assert(r.getSeq[Long](1) === Seq(1L, 2L, 9L))
  }

  test("scalar subqueries compile through Catalyst (reference Q4 shape)") {
    Tables(spark, TestSpark.Sf0001, "orders").createOrReplaceTempView("orders")
    val r = spark.sql(
      """SELECT
        |  (SELECT count(*) FROM orders WHERE o_orderstatus = 'F') AS f_cnt,
        |  (SELECT count(*) FROM orders) AS all_cnt""".stripMargin).head()
    assert(r.getLong(0) > 0 && r.getLong(1) >= r.getLong(0))
  }
}
