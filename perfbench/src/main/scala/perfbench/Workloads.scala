package perfbench

import java.nio.file.{Files, Paths}

import graft.{Q, SparkEntry}
import graft.recipes.{RecipeAnalytics, RecipeEtl, RecipeGoldenQueries, Seed}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One timed operation: `build` makes the DataFrame (driver work inside
  * the program's query function), `action` materializes it. Operations
  * without a separate final action (`RecipeEtl.run`) build nothing and
  * do all their work in `action`.
  */
final case class Op(name: String, build: () => DataFrame, action: DataFrame => Long)

/** A workload: fixtures staged once, the operations of one pass, and the
  * outputs its correctness check reads.
  */
trait Workload {
  /** Stage fixtures; returns (fixtures attempted, names of those that threw). */
  def stage(): (Int, Seq[String])
  /** Write every operation's output under `outDir` for the correctness
    * check; returns the names of the operations that threw.
    */
  def verify(outDir: String): Seq[String]
  /** The operations of pass `pass`, in the order they run. */
  def pass(pass: Int): Seq[Op]
}

object Workloads {

  /** Full materialization through the noop sink, as `graft.Bench` times
    * queries: a count() would let Catalyst prune unreferenced columns.
    */
  def noop(df: DataFrame): Long = {
    df.write.format("noop").mode("overwrite").save()
    -1L
  }

  /** Per-query isolation: ev5 and rj2 install session-global optimizer
    * hooks, persisted intermediates and scratch dirs outlive a query, so
    * each query starts from the same session state whatever ran before.
    */
  def isolate(spark: SparkSession): Unit = {
    spark.experimental.extraOptimizations = Nil
    spark.experimental.extraStrategies = Nil
    spark.catalog.clearCache()
    graft.TempDirs.sweep()
  }

  /** Registry workload: the named queries over the table directory, in an
    * order shuffled per pass from the run's seed.
    */
  final class Registry(spark: SparkSession, dataDir: String, names: Seq[String], seed: Long)
      extends Workload {
    private val byName: Map[String, Q] = SparkEntry.registry.map(q => q.name -> q).toMap
    private def query(n: String): Q =
      byName.getOrElse(n, throw new NoSuchElementException(s"query $n is not registered"))

    def stage(): (Int, Seq[String]) = {
      val staged = names.flatMap(n => byName.get(n).flatMap(_.stage).map(n -> _))
      (staged.size, staged.flatMap { case (n, st) =>
        val t0 = System.nanoTime()
        try { st(spark, dataDir); None }
        catch { case e: Throwable => Main.warn(s"fixture $n threw: $e"); Some(n) }
        finally Main.warn(f"fixture $n staged in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      })
    }

    def verify(outDir: String): Seq[String] = names.flatMap { n =>
      isolate(spark)
      try {
        query(n).fn(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/$n")
        None
      } catch { case e: Throwable => Main.warn(s"$n threw: $e"); Some(n) }
    }

    def pass(p: Int): Seq[Op] =
      new scala.util.Random(seed * 1000003L + p).shuffle(names).map { n =>
        Op(n, () => query(n).fn(spark, dataDir), noop)
      }
  }

  /** The paper's pipeline: `RecipeEtl.run` over seeded JSONL documents,
    * then the ten `RecipeAnalytics` queries over the CSVs it wrote.
    */
  final class Recipes(spark: SparkSession, docsDir: String, workDir: String) extends Workload {
    private val etlOut = s"$workDir/etl_out"

    def stage(): (Int, Seq[String]) = (0, Nil)

    private def analytics(dir: String): Seq[(String, () => DataFrame)] = {
      lazy val tables = RecipeGoldenQueries.tables(spark, dir)
      RecipeAnalytics.all.toSeq.sortBy(_._1.drop(2).takeWhile(_.isDigit).toInt).map { case (n, f) =>
        n -> (() => f(tables))
      }
    }

    def verify(outDir: String): Seq[String] = {
      val etl = try {
        val counts = RecipeEtl.run(spark, docsDir, s"$outDir/csv")
        Files.writeString(Paths.get(s"$outDir/etl_counts.json"),
          counts.toSeq.sortBy(_._1).map { case (t, c) => s""""$t": $c""" }.mkString("{", ", ", "}"))
        Nil
      } catch { case e: Throwable => Main.warn(s"RecipeEtl.run threw: $e"); Seq("etl") }
      etl ++ analytics(s"$outDir/csv").flatMap { case (n, f) =>
        isolate(spark)
        try { f().write.mode("overwrite").parquet(s"$outDir/$n"); None }
        catch { case e: Throwable => Main.warn(s"$n threw: $e"); Some(n) }
      }
    }

    def pass(p: Int): Seq[Op] =
      Op("etl", () => null, _ => RecipeEtl.run(spark, docsDir, etlOut).values.sum) +:
        analytics(etlOut).map { case (n, f) => Op(n, f, noop) }
  }

  /** Seeded recipe documents. `Seed` builds the documents; the run's seed
    * picks which 1% of each collection is corrupted (bad email, bad
    * difficulty, orphaned user id; at least one document each, so every
    * seed exercises each of those validation rules) and the order
    * documents are written in. Returns the counts the correctness check
    * expects.
    */
  def writeRecipeDocs(spark: SparkSession, dir: String, seed: Long,
      users: Int, recipes: Int, interactions: Int): Map[String, Long] = {
    def hit(key: Column, n: Int): Column =
      row_number().over(Window.orderBy(xxhash64(key, lit(seed)))) <= math.max(1, n / 100)
    def order(key: Column): Column = xxhash64(key, lit(seed + 1))
    val userKey = concat_ws("|", col("user_id"), col("username"), col("email"))
    val usersOut = Seed.users(spark, users - 1).withColumn("corrupt", hit(userKey, users))
      .withColumn("email", when(col("corrupt"), regexp_replace(col("email"), "@", " at "))
        .otherwise(col("email")))
    val recipesOut = Seed.recipes(spark, recipes - 1)
      .withColumn("corrupt", hit(col("recipe_id"), recipes))
      .withColumn("difficulty", when(col("corrupt"), lit("Extreme")).otherwise(col("difficulty")))
    val interactionsOut = Seed.interactions(spark, interactions, recipes)
      .withColumn("corrupt", hit(col("interaction_id"), interactions))
      .withColumn("user_id", when(col("corrupt"), concat(lit("orphan_"), col("user_id")))
        .otherwise(col("user_id")))
    def write(df: DataFrame, name: String, key: Column, counts: Column*): Seq[Long] = {
      val cached = df.cache()
      val row = cached.agg(sum(col("corrupt").cast("long")), counts: _*).head()
      cached.drop("corrupt").repartition(1).sortWithinPartitions(order(key)).write
        .mode("overwrite").option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
        .json(s"$dir/$name.jsonl")
      cached.unpersist()
      (0 until row.length).map(row.getLong)
    }
    val Seq(badUsers) = write(usersOut, "users", userKey)
    val Seq(badRecipes, ingredients, steps) = write(recipesOut, "recipes", col("recipe_id"),
      sum(size(col("ingredients"))), sum(size(col("steps"))))
    val Seq(badInteractions) = write(interactionsOut, "interactions", col("interaction_id"))
    Map("users" -> users.toLong, "recipes" -> recipes.toLong,
      "ingredients" -> ingredients, "steps" -> steps, "interactions" -> interactions.toLong,
      "bad_users" -> badUsers, "bad_recipes" -> badRecipes,
      "bad_interactions" -> badInteractions)
  }
}
