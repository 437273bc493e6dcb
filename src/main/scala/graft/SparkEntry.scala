package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every registered engine query, one per operator in SURVEY.md §2. */
  val registry: Seq[Q] =
    analytics.StarQueries.all ++
      operators.RelationalOps.all ++
      operators.AsofJoin.all ++
      operators.NestedOps.all ++
      operators.ValidationQueries.all ++
      operators.Dedup.all ++
      operators.Similarity.all ++
      operators.TextAnalysis.all ++
      operators.Chunking.all ++
      operators.EventOps.all ++
      operators.GraphOps.all ++
      operators.Multimodal.all ++
      operators.ExtendedOps.all ++
      operators.ScaleTechniques.all ++
      operators.Sampling.all ++
      operators.Decontamination.all ++
      operators.RecordLinkage.all ++
      operators.BpeTrainer.all ++
      operators.Classification.all ++
      operators.InvertedIndex.all ++
      operators.Profiling.all ++
      operators.Packing.all ++
      operators.LakeMaintenance.all ++
      operators.SnapshotLogQueries.all ++
      operators.IncrementalView.all ++
      operators.ChangeCapture.all ++
      pipeline.CorpusPipeline.all ++
      sources.DocStoreQueries.all ++
      sources.SnapshotStreamQueries.all ++
      streaming.StreamingQueries.all ++
      recipes.Seed.all ++
      recipes.RecipeStarQueries.all ++
      recipes.RecipeGoldenQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_ingredient_freq")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
