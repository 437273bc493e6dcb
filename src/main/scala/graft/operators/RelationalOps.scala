package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Scan / project / filter / explode / join / scalar-function operators from
  * SURVEY.md §2.1–§2.4 and §2.8, each expressed over the driver testdata.
  *
  * Reference semantics covered here: the ETL projections that drop columns
  * (`src/etl_pipeline.py:44-53,56-69`), the nullable-rating default
  * (`src/etl_pipeline.py:95`), the two explode flavors for ingredients/steps
  * (`src/etl_pipeline.py:71-84`), timestamp stringification
  * (`cloud_function/main.py:57,72,99`), filename routing predicates
  * (`bigquery_loader_function/main.py:20-27`), the anti/semi join membership
  * checks of the validator (`src/data_validation.py:137-140,117-120`), and
  * the deterministic synthetic-ID templating of the seeder
  * (`src/insert_recipe.py:81,115`).
  */
object RelationalOps {

  val all: Seq[Q] = Seq(
    // S1/S2: full scan + projection; Catalyst prunes the parquet ReadSchema
    // to exactly these two columns.
    Q(
      "s1_scan_project",
      (s, dir) =>
        Tables(s, dir, "region").select("r_regionkey", "r_name")
          .orderBy("r_regionkey"),
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")
    ),

    // S3: limit-1 probe (reference cloud_function/main.py:29-33), made
    // deterministic with an ORDER BY.
    Q(
      "s3_limit_probe",
      (s, dir) =>
        Tables(s, dir, "orders").select("o_orderkey")
          .orderBy("o_orderkey").limit(1),
      Some("SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 1")
    ),

    // P1/P2: column-dropping projection (users lose `role`, recipes lose
    // `servings` in the reference).
    Q(
      "p1_project_drop_cols",
      (s, dir) =>
        Tables(s, dir, "customer")
          .select(
            col("c_custkey").as("user_id"),
            col("c_name").as("username"),
            col("c_mktsegment").as("segment"))
          .orderBy("user_id"),
      Some("""SELECT c_custkey AS user_id, c_name AS username, c_mktsegment AS segment
             |FROM customer ORDER BY user_id""".stripMargin)
    ),

    // P3: nullable field with a serialization default (reference rating → "").
    Q(
      "p3_null_default",
      (s, dir) =>
        Tables(s, dir, "events")
          .select(
            col("event_id"),
            coalesce(when(col("value") >= 100, col("value")), lit(-1d))
              .as("rating"))
          .orderBy("event_id"),
      Some("""SELECT event_id,
             |  coalesce(CASE WHEN value >= 100 THEN value END, CAST(-1 AS DOUBLE)) AS rating
             |FROM events ORDER BY event_id""".stripMargin)
    ),

    // P4: timestamp → string at the serialization edge (UTC session TZ).
    Q(
      "p4_ts_format",
      (s, dir) =>
        Tables(s, dir, "events")
          .select(
            col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"))
          .orderBy("event_id"),
      Some("""SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
             |FROM events ORDER BY event_id""".stripMargin)
    ),

    // P7: value predicate pushed to the parquet scan.
    Q(
      "p7_filter_pushdown",
      (s, dir) =>
        Tables(s, dir, "orders")
          .filter(col("o_totalprice") > 200000)
          .select("o_orderkey", "o_totalprice")
          .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_totalprice > 200000 ORDER BY o_orderkey""".stripMargin)
    ),

    // E1: explode an array to one row per element, parent key carried
    // (reference ingredient explode, src/etl_pipeline.py:71-79).
    Q(
      "e1_explode_tokens",
      (s, dir) =>
        Tables(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .orderBy("doc_id", "token"),
      Some("""SELECT doc_id, token FROM
             |  (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
             |ORDER BY doc_id, token""".stripMargin)
    ),

    // E2: posexplode with a 1-based ordinal preserving element order
    // (reference step explode, src/etl_pipeline.py:81-84).
    Q(
      "e2_posexplode_steps",
      (s, dir) =>
        Tables(s, dir, "documents")
          .select(col("doc_id"), posexplode(split(col("text"), " ")))
          .select(
            col("doc_id"),
            (col("pos") + 1).cast("long").as("step_number"),
            col("col").as("instruction"))
          .orderBy("doc_id", "step_number"),
      Some("""SELECT doc_id,
             |  generate_subscripts(string_split(text, ' '), 1) AS step_number,
             |  unnest(string_split(text, ' ')) AS instruction
             |FROM documents ORDER BY doc_id, step_number""".stripMargin)
    ),

    // J1: fact ⋈ dim ⋈ dim with exact decimal revenue (broadcast the dims).
    Q(
      "j1_revenue_per_nation",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val su = Tables(s, dir, "supplier")
        val na = Tables(s, dir, "nation")
        li.join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
          .join(broadcast(na), su("s_nationkey") === na("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            (sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
              .cast("long")).cast("double") / 10000.0).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name,
             |  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE)/10000.0 AS revenue,
             |  count(*) AS n_items
             |FROM lineitem
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |GROUP BY n_name ORDER BY n_name""".stripMargin)
    ),

    // J5: anti join — orphan detection (reference src/data_validation.py:137-140).
    Q(
      "j5_anti_no_urgent_order",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val urgent = Tables(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("c_custkey"))
        c.join(urgent, Seq("c_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey NOT IN
             |  (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
             |ORDER BY c_custkey""".stripMargin)
    ),

    // J7: semi join — existence check (reference src/data_validation.py:117-120).
    Q(
      "j7_semi_big_spenders",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val big = Tables(s, dir, "orders")
          .filter(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("c_custkey"))
        c.join(big, Seq("c_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
             |ORDER BY c_custkey""".stripMargin)
    ),

    // F1: regex predicate (reference email check, src/data_validation.py:44-46).
    Q(
      "f1_regex_match",
      (s, dir) =>
        Tables(s, dir, "documents")
          .filter(col("text").rlike("stream.*join"))
          .select("doc_id", "lang")
          .orderBy("doc_id"),
      Some("""SELECT doc_id, lang FROM documents
             |WHERE regexp_matches(text, 'stream.*join') ORDER BY doc_id""".stripMargin)
    ),

    // F2: null-on-failure numeric parse (reference float() try/except,
    // src/data_validation.py:109-113) — try_cast in both engines.
    Q(
      "f2_try_cast",
      (s, dir) =>
        Tables(s, dir, "events")
          .select(
            col("event_id"),
            expr("try_cast(get_json_object(props, '$.k') AS INT)").as("k"),
            expr("try_cast(event_type AS DOUBLE)").as("not_a_number"))
          .orderBy("event_id"),
      Some("""SELECT event_id,
             |  TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k,
             |  TRY_CAST(event_type AS DOUBLE) AS not_a_number
             |FROM events ORDER BY event_id""".stripMargin)
    ),

    // F10/S9: deterministic synthetic-ID templating over a generated range
    // (reference src/insert_recipe.py:81).
    Q(
      "f10_id_templating",
      (s, _) =>
        s.range(100)
          .select(format_string("rec_%03d_synthetic", (col("id") + 2).cast("int"))
            .as("rid"))
          .orderBy("rid"),
      Some("""SELECT printf('rec_%03d_synthetic', CAST(range + 2 AS INT)) AS rid
             |FROM range(100) ORDER BY rid""".stripMargin)
    )
  )
}
