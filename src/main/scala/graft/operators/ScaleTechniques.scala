package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reusable scale techniques the 100 TB deployment leans on, packaged so
  * plans can be asserted in tests (ScaleTechniquesSpec) and reused by
  * operators:
  *
  *   - salted two-phase aggregation for skewed grouping keys;
  *   - bucketed table writes for shuffle-free co-located joins;
  *   - partitioned layouts for partition-pruned scans.
  */
object ScaleTechniques {

  /** Two-phase salted aggregation: COUNT/SUM grouped by a skewed key.
    * Phase 1 groups by (key, salt) — the hot key's rows spread over
    * `saltBuckets` reducers instead of one; phase 2 merges the partials
    * by key. Exactly equal to the direct aggregation for any
    * sum/count-style (commutative, associative) aggregate.
    *
    * @param aggs (partialExpr, mergeExpr, name): phase-1 aggregate and
    *             the phase-2 merge over the partial column of that name.
    */
  def saltedAgg(
      df: DataFrame,
      key: Column,
      saltBuckets: Int,
      aggs: Seq[(Column, String => Column, String)]): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets)))
    val phase1 = salted
      .groupBy(key.as("_key"), col("_salt"))
      .agg(aggs.head._1.as(aggs.head._3), aggs.tail.map(a => a._1.as(a._3)): _*)
    phase1
      .groupBy(col("_key"))
      .agg(
        aggs.head._2(aggs.head._3).as(aggs.head._3),
        aggs.tail.map(a => a._2(a._3).as(a._3)): _*)
  }

  /** Salt-replicate shuffle join for a skewed fact key — the commoner
    * 100 TB killer than skewed aggregation: one hot key routes its whole
    * fact volume through a single reducer of the shuffle join. Fix: the
    * FACT side gets a per-row salt in [0, saltBuckets); the DIM side is
    * replicated once per salt value; the join key becomes (key, salt),
    * spreading the hot key over `saltBuckets` reducers. Exactly equal to
    * the plain join for any join semantics that are per-row (each fact
    * row still meets every dim row of its key exactly once — in the one
    * replica carrying its salt). Cost: |dim| × saltBuckets rows shuffled
    * on the dim side — the trade is sized by saltBuckets, and the dim
    * side is the small one (else you'd salt the other way around).
    *
    * AQE's runtime skew split (asserted in ScaleTechniquesSpec) handles
    * the same problem reactively when it CAN rewrite the plan; explicit
    * salting is the form that works under any planner — e.g. when the
    * join's output partitioning is consumed downstream, the case where
    * AQE declines to split (documented in the spec).
    *
    * The salt must be uniform per fact ROW, not derived from the key —
    * `pmod(event_id, buckets)`-style row identity is ideal (deterministic
    * and uniform); never a function of the join key alone (that would
    * re-concentrate the hot key).
    */
  def saltedJoin(
      fact: DataFrame,
      factKey: Column,
      factSalt: Column,
      dim: DataFrame,
      dimKey: Column,
      saltBuckets: Int): DataFrame = {
    val saltedFact = fact.withColumn("_salt", pmod(factSalt, lit(saltBuckets)))
    val replicatedDim = dim.withColumn("_salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    saltedFact
      .join(replicatedDim,
        factKey === dimKey && saltedFact("_salt") === replicatedDim("_salt"))
      .drop("_salt")
  }

  /** Oracle-checked proof that salting is answer-preserving: the Spark
    * side routes the per-user event rollup through the two-phase salted
    * aggregation (events has hot users — the 100 TB skew case), while the
    * oracle is the PLAIN aggregation — identical output is the whole
    * point. The value sum uses the fixed-point convention (round(x*1e4)
    * summed as longs, one final divide) so the result is independent of
    * partition/salt-bucket addition order in both engines.
    */
  val all: Seq[Q] = Seq(
    Q(
      "st1_salted_agg",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        saltedAgg(ev, col("user_id"), saltBuckets = 16, Seq(
          (count(lit(1)), (c: String) => sum(col(c)), "n_events"),
          (sum(round(col("value") * 10000).cast("long")),
            (c: String) => sum(col(c)), "v4")))
          .select(
            col("_key").as("user_id"),
            col("n_events"),
            (col("v4").cast("double") / 10000.0).as("total_value"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
             |  CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS total_value
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
    ),

    // ST2: the salted SHUFFLE JOIN, oracle-proven answer-preserving the
    // same way st1 proves salted aggregation: Spark runs events ⋈
    // customer through saltedJoin (salt = event_id — per-row identity,
    // uniform across the hot key's rows), the oracle runs the PLAIN
    // join. SHUFFLE_HASH hints keep both sides shuffled (the 100 TB
    // plan: at real scale the dim side is past broadcast size), so the
    // salt genuinely re-keys an exchange rather than decorating a
    // broadcast. Value sums use the fixed-point convention, independent
    // of salt-bucket addition order.
    Q(
      "st2_salted_join",
      (s, dir) => {
        val ev = Tables(s, dir, "events").hint("shuffle_hash")
        val cust = Tables(s, dir, "customer").hint("shuffle_hash")
        saltedJoin(ev, col("user_id"), col("event_id"), cust, col("c_custkey"),
          saltBuckets = 16)
          .groupBy(col("c_mktsegment"))
          .agg(
            count(lit(1)).as("n_events"),
            (sum(round(col("value") * 10000).cast("long")).cast("double") / 10000.0)
              .as("total_value"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, count(*) AS n_events,
             |  CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS total_value
             |FROM events JOIN customer ON user_id = c_custkey
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    ),

    // ST3: dynamic partition pruning — the scale feature static pruning
    // can't give: the fact side is lang-partitioned, the dim side's
    // filter is only known at RUN time (here a filtered scan of the
    // nation table mapped to lang codes), and Spark injects the dim's
    // key set into the fact scan as a partition filter, so only 2 of 5
    // partition directories are read. At 100 TB this is the difference
    // between scanning a week and scanning the whole lake when joining
    // facts to a filtered dimension. The DPP subquery in the fact
    // scan's PartitionFilters is asserted in ScaleTechniquesSpec; the
    // oracle checks the answer from the raw table.
    Q(
      "st3_dpp_join",
      (s, dir) => {
        val fact = s.read.parquet(st3Lake(s, dir))
        // runtime-filtered dim: lang codes derived from a DIFFERENT
        // table's scan (nation rows), so the filter can't constant-fold
        val dim = Tables(s, dir, "nation")
          .filter(col("n_name").isin("NATION_3", "NATION_5"))
          .select(
            when(col("n_name") === "NATION_3", "de").otherwise("fr").as("lang"))
        fact.join(dim, Seq("lang"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
             |FROM documents WHERE lang IN ('de', 'fr')
             |GROUP BY lang ORDER BY lang""".stripMargin),
      stage = Some((s, dir) => { st3Lake(s, dir); () })
    ),

    // ST4: bucketed co-located join — the write-time answer to shuffle
    // cost that salting (st2) and AQE can't give: both tables are
    // written ONCE bucketed 8-ways on the join key, and every subsequent
    // join *and* aggregation on that key runs with zero exchanges — the
    // scan's bucket layout IS the join's required partitioning, and it
    // survives through the join into the per-key aggregate. At 100 TB
    // this converts the recurring per-query fact shuffle into a one-time
    // layout cost, the same trade lk2/lk3 make for scan locality.
    // ScaleTechniquesSpec asserts the plan property (no ShuffleExchange
    // upstream of the join with broadcast off); this row proves the
    // answer equals the plain-parquet join. The per-customer spend uses
    // the fixed-point convention, independent of bucket addition order.
    Q(
      "st4_bucketed_join",
      (s, dir) => {
        val ordersT = bucketedTable(s, dir, "orders")
        val customerT = bucketedTable(s, dir, "customer")
        // group on the FACT side's key: the join's output keeps the
        // orders scan's bucket partitioning under every strategy
        // (broadcast included), so the aggregate needs no exchange
        s.table(ordersT)
          .join(s.table(customerT),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_custkey"), col("c_name"))
          .agg(
            count(lit(1)).as("n_orders"),
            (sum(round(col("o_totalprice") * 10000).cast("long"))
              .cast("double") / 10000.0).as("spend"))
          .select(
            col("o_custkey").as("c_custkey"), col("c_name"),
            col("n_orders"), col("spend"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, count(*) AS n_orders,
             |  CAST(SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS spend
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin),
      stage = Some((s, dir) => {
        bucketedTable(s, dir, "orders")
        bucketedTable(s, dir, "customer")
        ()
      })
    )
  )

  /** ST3's scenario input: the documents table staged as a
    * lang-partitioned lake, once per source dir ([[graft.TempDirs.staged]]
    * keyed by a dir digest). The write is the FIXTURE the DPP join reads,
    * not the operator under test, so Bench stages it outside the timed
    * window — before this split st3's recorded time was mostly its own
    * setup write (r6 verdict, bench-honesty item).
    */
  private def st3Lake(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.TempDirs.staged(s"st3lake_${graft.TempDirs.dirKey(dir)}") { p =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .write.mode("overwrite").partitionBy("lang")
        .parquet(p.resolve("lake").toString)
    }.resolve("lake").toString

  private val bucketedTableLock = new Object

  /** Write orders + customer bucketed 8-ways on their join key into the
    * session catalog (idempotent per session AND per source dir — the
    * table name carries a digest of `dir`, so Bench's warm-up sweep at
    * sf0.001 cannot leave stale small-SF tables for the measured sweep
    * at the target SF to silently reuse; external parquet under a
    * session-staged dir so nothing lands in the repo and reruns reuse the
    * layout). The whole check-then-act is serialized on a lock so two
    * concurrent callers (parallel suites sharing a session) can't race
    * one another into a double write. If the staged files survive from an
    * earlier JVM whose catalog died with it, the existing layout is
    * re-registered with bucketed-table DDL instead of rewritten. Bucket
    * count is the config knob that would be sized to cluster parallelism
    * at scale.
    */
  def bucketedTable(s: org.apache.spark.sql.SparkSession, dir: String, t: String): String =
    bucketedTableLock.synchronized {
      val digest = graft.TempDirs.dirKey(dir)
      val key = if (t == "orders") "o_custkey" else "c_custkey"
      val table = s"graft_st4_${t}_$digest"
      if (!s.catalog.tableExists(table)) {
        var wrote = false
        val root = graft.TempDirs.staged(s"st4_${t}_$digest") { p =>
          Tables(s, dir, t).write
            .option("path", p.resolve(t).toString)
            .bucketBy(8, key).sortBy(key)
            .saveAsTable(table)
          wrote = true
        }
        if (!wrote)
          s.sql(s"""CREATE TABLE $table (${Tables(s, dir, t).schema.toDDL})
                   |USING PARQUET
                   |CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
                   |LOCATION '${root.resolve(t)}'""".stripMargin)
      }
      table
    }
}
