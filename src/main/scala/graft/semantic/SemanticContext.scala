package graft.semantic

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.fm.{FileScan, SemanticProvider, Settings}

/** Semantic-search context (reference `semantic/context.py`): wires the
  * deterministic encoder, the parquet embedding cache, and the
  * differential indexer, and plugs into [[graft.fm.QueryEngine]] as a
  * [[SemanticProvider]] — when READY, `files` gains an `embedding`
  * column via a left join on `path` and SQL gains `embed()` plus the
  * cosine functions (reference `semantic/query.py:11-65`).
  */
final class SemanticContext(
    spark: SparkSession,
    settings: Settings,
    dimOverride: Int = 0,
    glob: String = "**/*.md") extends SemanticProvider {

  /** Encoder resolved from the configured model name ([[Encoders]]); an
    * explicit dimOverride (tests) beats the model's own dim.
    */
  val encoder: TextEncoder = Encoders.forModel(
    settings.embeddingModel, if (dimOverride > 0) Some(dimOverride) else None)

  val dim: Int = encoder.dim

  val cache = new EmbeddingCache(spark, settings.cacheDir, settings.embeddingModel, dim)

  val indexer = new EmbeddingIndexer(
    cache,
    text => encoder.encode(text),
    () => FileScan.collect(settings.baseDir, glob).map(settings.baseDir.resolve),
    settings.baseDir)

  override def isReady: Boolean = indexer.state == IndexerState.Ready

  override def snapshotGeneration: Long = cache.generation

  override def withEmbedding(files: DataFrame): DataFrame =
    files.join(cache.asDataFrame, Seq("path"), "left")

  override def registerFunctions(spark: SparkSession): Unit = {
    CosineFunctions.register(spark)
    Embed.register(spark, encoder)
  }
}
