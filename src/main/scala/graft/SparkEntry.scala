package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the query catalogs of each module; every entry pairs a
  * DataFrame-API implementation with (where SQL-expressible) a DuckDB
  * oracle over the same parquet tables.
  */
object SparkEntry {

  /** Register every session-level engine function (cosine expressions,
    * `embed`, DuckDB-dialect aliases) up front, so no query's correctness
    * ever depends on Map iteration order having run a registering query
    * first (VERDICT r2 item 1). Individual queries still self-register —
    * each lambda must be self-contained on a fresh session.
    */
  def registerSessionFunctions(spark: SparkSession): Unit = {
    graft.semantic.CosineFunctions.register(spark)
    graft.semantic.Embed.register(spark)
    graft.fm.Dialect.register(spark)
    graft.ops.GraftAggregates.register(spark)
  }

  /** The smallest scale-factor dir: the flagship smoke check's input and
    * the default for the dev mains that build the fixture corpus from it.
    */
  val SmokeSfDir = "/root/testdata/sf0.001"

  /** Flagship query on [[SmokeSfDir]]; driver smoke-checks rows>0.
    * The product's core path: markdown corpus → frontmatter parse →
    * `files` view → the README's flagship date-filter SQL through
    * `QueryEngine.query` (README.md:101).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_fm_flagship")(spark, SmokeSfDir)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.FrontmatterQueries.queries ++
      graft.queries.SimilarityQueries.queries ++
      graft.queries.DedupQueries.queries ++
      graft.queries.TextQueries.queries ++
      graft.queries.CurationQueries.queries ++
      graft.queries.PipelineQueries.queries ++
      graft.queries.AnalyticsQueries.queries ++
      graft.queries.MiningQueries.queries

  /** Catalog rows that exist as HOT-KEY STRATEGY VARIANTS of another row
    * (r17, verdict r16 item 2): each maps to its preferred gate-scale
    * sibling. These rows trade gate-scale constants for a plan with no
    * single-key ceiling — they are re-measured by the adversarial scale
    * wave every round and will never beat the oracle at sf0.1 BY DESIGN
    * (the adjudications live in PLANS.md). Bench emits this map into
    * BENCH_FULL.json so weak-ratio accounting can split design-cost rows
    * from genuine regressions; the skew-driven selectors
    * (EventStreams.sessionizeAuto / dedupFirstSeenAuto,
    * AsOfJoin.leftAsOfAuto) choose between each pair automatically.
    */
  def strategyVariants: Map[String, String] = Map(
    "q_stream_sessionize_chunked" -> "q_stream_sessionize",
    "q_stream_dedup_agg" -> "q_stream_dedup",
    "q_asof_join_chunked" -> "q_asof_join",
    // the selector row: by construction it costs its chosen branch PLUS
    // one bounded skew-diagnostic job (~0.15 s of fixed scheduling at
    // sf0.1 against a 0.1 s oracle — amortizes to noise at scale), so
    // its weak ratio is design cost exactly like the variants above
    "q_stream_sessionize_auto" -> "q_stream_sessionize")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracleSql ++
      graft.queries.FrontmatterQueries.oracleSql ++
      graft.queries.SimilarityQueries.oracleSql ++
      graft.queries.DedupQueries.oracleSql ++
      graft.queries.TextQueries.oracleSql ++
      graft.queries.CurationQueries.oracleSql ++
      graft.queries.PipelineQueries.oracleSql ++
      graft.queries.AnalyticsQueries.oracleSql ++
      graft.queries.MiningQueries.oracleSql
}
