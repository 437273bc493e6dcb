package graft.analytics

import graft.{Q, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's 10 analytics queries (reference `README.md:334-519`),
  * re-expressed over the driver's TPC-H-ish star schema (see FIXTURES.md §B):
  * `orders` plays the interactions fact, `customer` the users dim, `part` the
  * recipes dim, `lineitem` the ingredients bridge.
  *
  * Numeric-determinism convention shared with the DuckDB oracles: money
  * aggregates use fixed-point arithmetic — each row's double is rounded to an
  * integer number of 1e-4 units (ROUND of an identical IEEE double is
  * identical in both engines) and summed as BIGINT, which is exact and
  * independent of partial-aggregation order (double summation is not
  * associative; a 32-partition Spark sum and a single-threaded DuckDB sum
  * drift in the low bits otherwise). The integer sum converts back to DOUBLE
  * with one deterministic division at the end. Every query also carries a
  * total ORDER BY so row order is reproducible.
  */
object StarQueries {

  /** Exact fixed-point mean, one division chain evaluated left-to-right in
    * the same order as the oracle SQL.
    */
  private def exactAvg(c: Column): Column =
    sum(round(c * 10000).cast("long")).cast("double") / 10000.0 / count(lit(1))

  private val exactAvgSql =
    "CAST(SUM(CAST(ROUND(%s * 10000) AS BIGINT)) AS DOUBLE)/10000.0/COUNT(*)"

  val all: Seq[Q] = Seq(
    // Q1: ingredient frequency top-5 (reference README.md:339-341) —
    // part plays the ingredient dim. Hash-agg with map-side partials, then
    // TakeOrderedAndProject (no global sort).
    Q(
      "q1_ingredient_freq",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val p = Tables(s, dir, "part")
        li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .groupBy(col("p_name"))
          .agg(count(lit(1)).as("frequency"))
          .orderBy(desc("frequency"), asc("p_name"))
          .limit(5)
      },
      Some("""SELECT p_name, count(*) AS frequency
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_name ORDER BY frequency DESC, p_name LIMIT 5""".stripMargin)
    ),

    // Q2: filtered average (reference README.md:361-363, AVG(prep_time) > 0).
    Q(
      "q2_avg_order_value",
      (s, dir) =>
        Tables(s, dir, "orders")
          .filter(col("o_totalprice") > 0)
          .agg(exactAvg(col("o_totalprice")).as("avg_price")),
      Some(s"""SELECT ${exactAvgSql.format("o_totalprice")} AS avg_price
              |FROM orders WHERE o_totalprice > 0""".stripMargin)
    ),

    // Q3: categorical distribution (reference README.md:377-379,
    // GROUP BY difficulty) — o_orderpriority plays difficulty.
    Q(
      "q3_priority_dist",
      (s, dir) =>
        Tables(s, dir, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy(asc("o_orderpriority")),
      Some("""SELECT o_orderpriority, count(*) AS cnt
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    ),

    // Q4: two uncorrelated scalar subqueries in one row (reference
    // README.md:394-399: liked-avg vs global-avg prep time).
    Q(
      "q4_subset_vs_global_avg",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val sub = o.filter(col("o_orderstatus") === "F")
          .agg(exactAvg(col("o_totalprice")).as("avg_f"))
        val glob = o.agg(exactAvg(col("o_totalprice")).as("avg_all"))
        sub.crossJoin(glob)
      },
      Some(s"""SELECT
              |  (SELECT ${exactAvgSql.format("o_totalprice")} FROM orders WHERE o_orderstatus = 'F') AS avg_f,
              |  (SELECT ${exactAvgSql.format("o_totalprice")} FROM orders) AS avg_all""".stripMargin)
    ),

    // Q5: most-viewed recipe, top-1 with filter (reference README.md:411-415).
    Q(
      "q5_top_returned_part",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        val p = Tables(s, dir, "part")
        li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .groupBy(col("p_name"))
          .agg(count(lit(1)).as("views"))
          .orderBy(desc("views"), asc("p_name"))
          .limit(1)
      },
      Some("""SELECT p_name, count(*) AS views
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE l_returnflag = 'R'
             |GROUP BY p_name ORDER BY views DESC, p_name LIMIT 1""".stripMargin)
    ),

    // Q6: ingredients of engaged recipes: fact ⋈ bridge with filter, top-5
    // (reference README.md:428-432).
    Q(
      "q6_top_parts_open_orders",
      (s, dir) => {
        val o = Tables(s, dir, "orders").filter(col("o_orderstatus") === "O")
          .select("o_orderkey")
        val li = Tables(s, dir, "lineitem")
        val p = Tables(s, dir, "part")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .groupBy(col("p_name"))
          .agg(count(lit(1)).as("freq"))
          .orderBy(desc("freq"), asc("p_name"))
          .limit(5)
      },
      Some("""SELECT p_name, count(*) AS freq
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |JOIN part ON l_partkey = p_partkey
             |WHERE o_orderstatus = 'O'
             |GROUP BY p_name ORDER BY freq DESC, p_name LIMIT 5""".stripMargin)
    ),

    // Q7: active-user leaderboard (reference README.md:450-453).
    Q(
      "q7_customer_leaderboard",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val c = Tables(s, dir, "customer")
        o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_name"))
          .agg(count(lit(1)).as("actions"))
          .orderBy(desc("actions"), asc("c_name"))
          .limit(10)
      },
      Some("""SELECT c_name, count(*) AS actions
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_name ORDER BY actions DESC, c_name LIMIT 10""".stripMargin)
    ),

    // Q8: most complex recipe = max bridge rows per parent, carrying the
    // parent dim's attributes (reference README.md:477-480 joins
    // recipes⋈steps for the title — J4). Plan shape: aggregate the bridge,
    // take the top-1 FIRST, then broadcast-join the single row back to the
    // parent table — the parent join touches one row instead of every
    // group, which is the shape that survives a 100× scale-up.
    Q(
      "q8_widest_order",
      (s, dir) => {
        val top = Tables(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("n_items"))
          .orderBy(desc("n_items"), asc("l_orderkey"))
          .limit(1)
        val o = Tables(s, dir, "orders")
        broadcast(top).join(o, top("l_orderkey") === o("o_orderkey"))
          .select(col("l_orderkey"), col("o_orderpriority"), col("n_items"))
      },
      Some("""SELECT l_orderkey, o_orderpriority, n_items
             |FROM (SELECT l_orderkey, count(*) AS n_items
             |      FROM lineitem GROUP BY l_orderkey
             |      ORDER BY n_items DESC, l_orderkey LIMIT 1)
             |JOIN orders ON l_orderkey = o_orderkey""".stripMargin)
    ),

    // Q9: nested aggregation — avg per-parent count (reference README.md:491-492).
    // Counts are exact integers, so SUM/COUNT in double is deterministic.
    Q(
      "q9_avg_items_per_order",
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("c"))
          .agg((sum(col("c")).cast("double") / count(lit(1))).as("avg_items")),
      Some("""SELECT CAST(SUM(c) AS DOUBLE)/COUNT(*) AS avg_items
             |FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey)""".stripMargin)
    ),

    // Q10: engagement by category: fact ⋈ dim, group, full desc sort
    // (reference README.md:505-509).
    Q(
      "q10_returns_by_priority",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem").filter(col("l_returnflag") === "R")
          .select("l_orderkey")
        val o = Tables(s, dir, "orders")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("views"))
          .orderBy(desc("views"), asc("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, count(*) AS views
             |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE l_returnflag = 'R'
             |GROUP BY o_orderpriority ORDER BY views DESC, o_orderpriority""".stripMargin)
    ),

    // Q11: the SQL FRONT-END as a driver-verified row — the identical
    // query TEXT runs through spark.sql over registered views and
    // through DuckDB. The correlated EXISTS is the planning exercise:
    // Catalyst de-correlates it to a left-semi hash join (never a
    // per-row subquery), which is what keeps it linear at 100 TB.
    Q(
      "q11_sql_exists",
      (s, dir) => {
        Seq("orders", "lineitem").foreach(t =>
          Tables(s, dir, t).createOrReplaceTempView(t))
        s.sql("""SELECT o_orderpriority, count(*) AS n
                |FROM orders
                |WHERE EXISTS (SELECT 1 FROM lineitem
                |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
                |GROUP BY o_orderpriority
                |ORDER BY o_orderpriority""".stripMargin)
      },
      Some("""SELECT o_orderpriority, count(*) AS n
             |FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)
    )
  )
}
