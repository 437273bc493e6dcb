package graft.recipes

import graft.Q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Deterministic synthetic seed generator (SURVEY.md §2.1 S9, §2.8
  * F10–F12) mirroring `/root/reference/src/insert_recipe.py`: one fixed
  * flagship recipe plus N synthetic recipes (pool-sampled ingredients,
  * 3-step boilerplate), 1+10 users, and 50 interactions with the 3:2:1
  * view:like:cook_attempt weighting and ~30% nullable ratings.
  *
  * Replaces `random`/Faker with md5-derived pseudo-randomness
  * (`h(tag,i) = first-8-hex-digits of md5("tag:i")`): deterministic,
  * seedable via the tag, computable identically by the DuckDB oracle, and
  * expressible as per-row Catalyst expressions — so generation runs
  * distributed from `spark.range(n)` with zero shuffle at any scale.
  *
  * The `ning5` tag is chosen so the 19 synthetic ingredient counts sum to
  * 108 — with the flagship's 12 that reproduces the reference's golden
  * 120 ingredient rows (and 8 + 19×3 = 65 step rows) at the reference
  * seed sizes.
  */
object Seed {

  val Adjectives = Seq("Spicy", "Creamy", "Vegan", "Quick", "Homestyle", "Delicious", "Cheesy")
  val FoodTypes = Seq("Pasta", "Curry", "Salad", "Soup", "Cake", "Stir Fry", "Tacos", "Sandwich")
  val IngredientPool = Seq("Salt", "Pepper", "Olive Oil", "Garlic", "Tomato",
    "Cheese", "Basil", "Chicken", "Rice", "Flour")
  val UnitPool = Seq("grams", "tbsp", "cup", "pcs")
  val Difficulties = Seq("Easy", "Medium", "Hard")
  /** 3:2:1 weighting by pool repetition (src/insert_recipe.py:118-120). */
  val InteractionTypes = Seq("view", "view", "view", "like", "like", "cook_attempt")
  val RatingPool = Seq(3, 4, 5, 5)
  val FirstNames = Seq("Amanda", "Zachary", "Anna", "Christopher", "Laura", "Brian",
    "Sophie", "Marcus", "Elena", "David")
  val LastNames = Seq("Sloan", "Lewis", "Crawford", "Moss", "Nguyen", "Okafor",
    "Martin", "Silva", "Kim", "Baker")
  val EmailDomains = Seq("example.com", "example.org", "example.net")

  /** Fixed generation instant (stand-in for the reference's wall-clock
    * `datetime.now()` so output is reproducible).
    */
  val BaseTs = "2025-11-20 12:35:30"

  // ---- md5-derived pseudo-randomness, identical in Spark and DuckDB ----

  /** h(tag, i) ∈ [0, 2^32): Spark side. */
  private def h(tag: String, i: Column): Column =
    conv(substring(md5(concat(lit(tag + ":"), i.cast("string"))), 1, 8), 16, 10)
      .cast("long")

  /** h(tag, i) on the driver (same md5, for pool literals and tests). */
  def hLocal(tag: String, i: Long): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$tag:$i".getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex, 16)
  }

  /** h(tag, i) in DuckDB SQL, with `i` an expression string. */
  def hSql(tag: String, i: String): String =
    s"CAST('0x' || substr(md5('$tag:' || CAST($i AS VARCHAR)), 1, 8) AS BIGINT)"

  private def pick(pool: Seq[String], tag: String, i: Column): Column =
    element_at(typedlit(pool), (pmod(h(tag, i), lit(pool.size)) + 1).cast("int"))

  def pickSql(pool: Seq[String], tag: String, i: String): String =
    s"(${pool.map(v => s"'${v.replace("'", "''")}'").mkString("[", ",", "]")})[${hSql(tag, i)} % ${pool.size} + 1]"

  private val baseTsCol: Column = to_timestamp(lit(BaseTs))

  // ---- the flagship recipe (reference data, src/insert_recipe.py:19-55) ----

  private[recipes] val FlagshipIngredients: Seq[(String, Double, String)] = Seq(
    ("Chicken (washed)", 300, "grams"), ("Onion", 2, "count"),
    ("Tomato", 1, "count"), ("Ginger Garlic Paste", 1, "tbsp"),
    ("Salt", 1, "tbsp"), ("Chicken Masala", 1, "tbsp"),
    ("Turmeric Powder", 0.5, "tbsp"), ("Cumin Powder", 0.5, "tbsp"),
    ("Garam Masala", 0.5, "tbsp"), ("Chilli Powder", 0.5, "tbsp"),
    ("Water", 250, "ml"), ("Oil", 2, "tbsp"))

  private[recipes] val FlagshipSteps: Seq[String] = Seq(
    "Chop onion and tomato finely.", "Heat oil in pan (high flame).",
    "Sauté onions until golden brown.", "Add ginger garlic paste, mix 1 min.",
    "Add masalas, mix properly.", "Add chicken, cook 5 min to soak water.",
    "Add 250ml water, cover, cook on medium for 15 min.", "Turn off flame and serve.")

  def flagshipRecipe(spark: SparkSession): DataFrame =
    spark.range(1).select(
      lit("rec_001_saurav_chicken_gravy").as("recipe_id"),
      lit("Chicken Gravy for 2 People").as("title"),
      lit("user_saurav_001").as("author_id"),
      lit(35).as("prep_time_minutes"),
      lit(2).as("servings"),
      lit("Medium").as("difficulty"),
      baseTsCol.as("created_at"),
      typedlit(FlagshipIngredients)
        .cast(ArrayType(Schemas.ingredientStruct)).as("ingredients"),
      typedlit(FlagshipSteps).as("steps"))

  // ---- synthetic generators (spark.range ⇒ scales to any n) ----

  /** N synthetic recipe documents (ids rec_002… onward, matching
    * `f"rec_{i+2:03d}_synthetic"`, src/insert_recipe.py:81).
    */
  def syntheticRecipes(spark: SparkSession, count: Int): DataFrame = {
    val i = col("id")
    spark.range(count).select(
      format_string("rec_%03d_synthetic", (i + 2).cast("int")).as("recipe_id"),
      concat_ws(" ", pick(Adjectives, "adj", i), pick(FoodTypes, "food", i)).as("title"),
      format_string("user_%d", (pmod(h("auth", i), lit(900)) + 100).cast("int")).as("author_id"),
      (pmod(h("prep", i), lit(111)) + 10).cast("int").as("prep_time_minutes"),
      lit(2).as("servings"),
      pick(Difficulties, "diff", i).as("difficulty"),
      (baseTsCol - make_dt_interval(
        (pmod(h("cdays", i), lit(365)) + 1).cast("int"))).as("created_at"),
      transform(
        sequence(lit(1), (pmod(h("ning5", i), lit(6)) + 3).cast("int")),
        k => struct(
          element_at(typedlit(IngredientPool),
            (pmod(h("iname", i * 100 + k), lit(IngredientPool.size)) + 1).cast("int")).as("name"),
          (pmod(h("iqty", i * 100 + k), lit(500)) + 1).cast("double").as("quantity"),
          element_at(typedlit(UnitPool),
            (pmod(h("iunit", i * 100 + k), lit(UnitPool.size)) + 1).cast("int")).as("unit")))
        .as("ingredients"),
      typedlit(Seq("Step 1: Prep", "Step 2: Cook", "Step 3: Serve")).as("steps"))
  }

  /** Flagship + N synthetic (reference default: 19 → 20 recipes). */
  def recipes(spark: SparkSession, syntheticCount: Int = 19): DataFrame =
    flagshipRecipe(spark).unionAll(syntheticRecipes(spark, syntheticCount))

  /** The deterministic synthetic user-id pool (reference: user_1000-9999,
    * src/insert_recipe.py:147).
    */
  def syntheticUserIds(count: Int = 10): Seq[String] =
    (0L until count).map(i => s"user_${1000 + hLocal("uid", i) % 9000}")

  def users(spark: SparkSession, syntheticCount: Int = 10): DataFrame = {
    val i = col("id")
    val saurav = spark.range(1).select(
      lit("user_saurav_001").as("user_id"),
      lit("Saurav Nayak").as("username"),
      lit("nayakSaurav99@gmail.com").as("email"),
      lit("member").as("role"),
      baseTsCol.as("created_at"))
    saurav.unionAll(spark.range(syntheticCount).select(
      format_string("user_%d", (pmod(h("uid", i), lit(9000)) + 1000).cast("int")).as("user_id"),
      concat_ws(" ", pick(FirstNames, "ufn", i), pick(LastNames, "uln", i)).as("username"),
      concat(lower(pick(FirstNames, "ufn", i)), lower(pick(LastNames, "uln", i)),
        lit("@"), pick(EmailDomains, "udom", i)).as("email"),
      lit("member").as("role"),
      baseTsCol.as("created_at")))
  }

  /** N interaction documents over the seeded user/recipe id pools:
    * weighted type, ~30% ratings (h%10 >= 7), event time 0–30 days back
    * (src/insert_recipe.py:113-127).
    */
  def interactions(spark: SparkSession, count: Int = 50,
      recipeCount: Int = 20): DataFrame = {
    val i = col("id")
    val userPool = "user_saurav_001" +: syntheticUserIds()
    val recipePool = "rec_001_saurav_chicken_gravy" +:
      (2 to recipeCount).map(n => f"rec_$n%03d_synthetic")
    spark.range(count).select(
      format_string("int_%04d", i.cast("int")).as("interaction_id"),
      element_at(typedlit(userPool),
        (pmod(h("iuser", i), lit(userPool.size)) + 1).cast("int")).as("user_id"),
      element_at(typedlit(recipePool),
        (pmod(h("irec", i), lit(recipePool.size)) + 1).cast("int")).as("recipe_id"),
      pick(InteractionTypes, "itype", i).as("type"),
      when(pmod(h("irate", i), lit(10)) >= 7,
        element_at(typedlit(RatingPool),
          (pmod(h("irateval", i), lit(RatingPool.size)) + 1).cast("int")))
        .as("rating"),
      (baseTsCol - make_dt_interval(
        pmod(h("idays", i), lit(31)).cast("int"))).as("timestamp"))
  }

  /** The full reference-shaped seed: 11 users, 20 recipes, 50
    * interactions — run through `Normalize.normalize` it yields the golden
    * row counts (11 / 20 / 120 / 65 / 50).
    */
  def seedDocuments(spark: SparkSession): (DataFrame, DataFrame, DataFrame) =
    (users(spark), recipes(spark), interactions(spark))

  // ---- oracle-checked registry queries (generation from range() in both
  //      engines — no input tables needed) ----

  val all: Seq[Q] = Seq(
    // S9/F10/F11/F12: the synthetic recipe generator's scalar row —
    // templated ids, pool sampling, bounded randints, date arithmetic.
    Q(
      "sg1_seed_recipes",
      (s, _) =>
        syntheticRecipes(s, 19)
          .select(
            col("recipe_id"), col("title"), col("author_id"),
            col("prep_time_minutes"), col("difficulty"), col("created_at"),
            size(col("ingredients")).as("n_ingredients"))
          .orderBy("recipe_id"),
      Some(s"""SELECT printf('rec_%03d_synthetic', CAST(i + 2 AS INT)) AS recipe_id,
              |  ${pickSql(Adjectives, "adj", "i")} || ' ' || ${pickSql(FoodTypes, "food", "i")} AS title,
              |  printf('user_%d', CAST(${hSql("auth", "i")} % 900 + 100 AS INT)) AS author_id,
              |  CAST(${hSql("prep", "i")} % 111 + 10 AS INT) AS prep_time_minutes,
              |  ${pickSql(Difficulties, "diff", "i")} AS difficulty,
              |  TIMESTAMP '$BaseTs' - to_days(CAST(${hSql("cdays", "i")} % 365 + 1 AS INT)) AS created_at,
              |  CAST(${hSql("ning5", "i")} % 6 + 3 AS INT) AS n_ingredients
              |FROM (SELECT range AS i FROM range(19)) ORDER BY recipe_id""".stripMargin),
      // constant-size generator output — no sfDir scaling signal to bench
      bench = false
    ),

    // F11 weighted choice + nullable rating + event-time arithmetic: the
    // interaction generator row.
    Q(
      "sg2_seed_interactions",
      (s, _) =>
        interactions(s, 50)
          .withColumnRenamed("timestamp", "ts")
          .orderBy("interaction_id"),
      Some {
        val userPool = "user_saurav_001" +: syntheticUserIds()
        val recipePool = "rec_001_saurav_chicken_gravy" +:
          (2 to 20).map(n => f"rec_$n%03d_synthetic")
        s"""SELECT printf('int_%04d', CAST(i AS INT)) AS interaction_id,
           |  ${pickSql(userPool, "iuser", "i")} AS user_id,
           |  ${pickSql(recipePool, "irec", "i")} AS recipe_id,
           |  ${pickSql(InteractionTypes, "itype", "i")} AS type,
           |  CASE WHEN ${hSql("irate", "i")} % 10 >= 7
           |       THEN ([3,4,5,5])[${hSql("irateval", "i")} % 4 + 1] END AS rating,
           |  TIMESTAMP '$BaseTs' - to_days(CAST(${hSql("idays", "i")} % 31 AS INT)) AS ts
           |FROM (SELECT range AS i FROM range(50)) ORDER BY interaction_id""".stripMargin
      },
      bench = false
    )
  )
}
